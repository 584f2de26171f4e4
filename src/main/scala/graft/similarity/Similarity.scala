package graft.similarity

import graft.operators.Rankings.topKByScore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two tiers, per the standard vector-search playbook:
  *  - [[cosineTopK]]: brute-force exact top-k — the correctness baseline.
  *    Linear in |queries|·|corpus|; right answer when the probe set is
  *    bounded (dedup audits, eval queries).
  *  - [[lshCosineTopK]]: random-hyperplane LSH — the 100 TB path. Corpus is
  *    bucketed once by an nBits-bit hyperplane signature (a linear scan);
  *    each query probes its bucket and the nBits single-bit-flip neighbors,
  *    turning the search into an equi-join on bucket ids. Recall tunes via
  *    nBits; verified against the brute-force tier in tests.
  *
  * Every exact per-query top-k ranks by (cos_sim DESC, neighbor_id ASC)
  * through [[graft.operators.Rankings.topKByScore]] — a bounded-buffer
  * aggregate with map-side partials, never a sort of the pair stream.
  *
  * Dot products are sequential left-fold `aggregate` over `zip_with` in
  * double precision — deterministic, codegen-friendly, no UDF.
  */
object Similarity {

  /** Sequential-fold dot product of two double-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** (id, the vector as doubles, its [[graft.functions.NormD]] norm) under
    * the given output names. */
  private def vectors(df: DataFrame, idCol: String, vecCol: String,
                      id: String, v: String, n: String): DataFrame =
    df.select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
      .withColumn(n, graft.functions.NormD(col(v)))

  private def queryVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors(df, idCol, vecCol, "query_id", "qv", "qn")

  private def corpusVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors(df, idCol, vecCol, "neighbor_id", "nv", "nn")

  private val cosSim: Column =
    graft.functions.DotProductD(col("qv"), col("nv")) / (col("qn") * col("nn"))

  /** Top-k neighbors per query of a (query_id, neighbor_id, cos_sim, …)
    * candidate stream by (cos_sim DESC, neighbor_id ASC). */
  private def topKByCos(cand: DataFrame, k: Int, keys: Seq[String] = Seq("query_id"),
                        payload: Seq[String] = Seq("neighbor_id", "cos_sim")): DataFrame =
    topKByScore(cand, keys, col("cos_sim"), col("neighbor_id"), k, payload)

  /** Fail-loud eval-set size bound for the brute-force paths (q224 etc.):
    * an all-pairs join is only legitimate at eval-set scale, so the
    * contract "eval-set², not corpus²" must be a PROPERTY, not a comment.
    * The probe is `limit(maxEval+1).count()` — it short-circuits after
    * maxEval+1 rows, so the check costs O(maxEval) rows of one scan even
    * on a 100 TB table, never a full count. Throws
    * IllegalArgumentException when the bound is exceeded (the caller
    * should sample FIRST, deliberately — silent sampling here would
    * change results under the user's feet). Returns `df` for chaining. */
  def requireEvalBound(df: DataFrame, maxEval: Long,
                       what: String = "eval set"): DataFrame = {
    // clamp BEFORE the +1: maxEval = Long.MaxValue must read as "probe up
    // to Int.MaxValue rows", not overflow to a negative limit()
    val probed =
      df.limit((math.min(maxEval, Int.MaxValue.toLong - 1) + 1).toInt).count()
    require(probed <= maxEval,
      s"$what exceeds the brute-force bound of $maxEval rows " +
        s"(saw > $maxEval); sample it deterministically before the " +
        "all-pairs join — this path is eval-set² by contract, not corpus²")
    df
  }

  /** Exact brute-force cosine top-k: every query row against every corpus
    * row, ranked per query with a deterministic (sim desc, id asc) order.
    * The query side is broadcast — the corpus is scanned once, never
    * shuffled. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms once per ROW; the per-pair work is one tight-loop dot — same
    // IEEE fold as the HOF form (values bit-identical), ~50× cheaper, which
    // is the difference that matters when the corpus side is 100 TB
    val q = queryVectors(queries, idCol, vecCol)
    val c = corpusVectors(corpus, idCol, vecCol)
    topKByCos(broadcast(q).crossJoin(c).withColumn("cos_sim", cosSim), k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** Random-hyperplane signature of a double-array column as an Int bucket
    * id: bit p = sign(v · h_p), seed fixed so buckets are stable across
    * runs and cluster topologies. Buckets split the corpus ~uniformly
    * (each hyperplane halves it), so the downstream equi-join sees
    * |corpus|/2^n candidates per probe. Tight-loop custom expression
    * ([[graft.functions.HyperplaneSig]]). */
  def hyperplaneSignature(vec: Column, nBits: Int, dim: Int,
                          family: String = "rng"): Column =
    graft.functions.HyperplaneSig(vec, nBits, dim, family)

  /** Exact embedding-cosine near-dup pairs — every unordered pair with
    * cosine similarity >= `threshold`, with NO approximation and NO cross
    * join.
    *
    * Construction: cosine(a,b) >= t on unit-normalized vectors is
    * ||â − b̂||² <= 2−2t, i.e. an L2 ball of radius r = √(2−2t). Rows are
    * grid-blocked on `blockDims` projections of the normalized vector with
    * cell width r: for any unit direction w, |⟨â−b̂, w⟩| <= ||â−b̂|| <= r,
    * so a qualifying pair differs by <= 1 cell per blocked projection —
    * joining each row's home cell against the 3^blockDims neighbor cells
    * of the other side finds every qualifying pair (exactness by
    * construction), and candidates are verified with the exact cosine.
    * Physical shape (two-stage): stage 1 explodes the 3^blockDims probe
    * cells and equi-joins int8 SKETCHES on the cell key (shuffle on cell,
    * linear in candidates but ~7× narrower rows than shipping the double
    * vectors), prefiltering on the integer sketch dot at threshold −
    * quantBound(dim) — a provably lossless necessary condition; stage 2
    * joins the surviving pairs (≈ the true near-dups) back to the full
    * vectors for the exact cosine. SCALE CONTRACT: candidate volume is
    * still Θ(Σ_cell n_cell²); for near-ISOTROPIC high-dim corpora the
    * per-projection spread (~1/√dim) is below the cell width r, grid
    * selectivity degrades, and this — like any EXACT thresholded dense
    * similarity join — approaches all-pairs. It is the exact
    * baseline/eval path (the q224 convention); corpus-scale near-dup
    * belongs to the sub-quadratic paths: MinHash-LSH (Dedup.lshNearDup),
    * SemDedup (k-means-cell-bounded), or the ANN family.
    *
    * Projections: raw coordinates 1..blockDims by default;
    * `pcaRotate = true` uses the corpus's top-`blockDims` principal axes
    * instead (one extra pass + a 64×64 driver-side eigendecomposition via
    * `RowMatrix.computePrincipalComponents`). Rotation pays off exactly
    * when the corpus is anisotropic — real learned embeddings concentrate
    * variance in a few directions, and blocking on those directions
    * multiplies per-cell selectivity; for isotropic corpora (synthetic
    * random vectors) every direction has the same spread and the rotation
    * is a no-op quality-wise, so it is off by default. The RESULT is
    * identical either way — blocking affects only candidate volume.
    *
    * Verification cost is kept off the critical path: norms are computed
    * once per ROW (not per pair), and the per-candidate cosine is the
    * tight-loop [[graft.functions.DotProductD]] — bit-identical to the
    * HOF fold it replaces, ~50× cheaper per candidate. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, blockDims: Int = 3,
                         pcaRotate: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    val r = math.sqrt(2.0 - 2.0 * threshold)
    val base0 = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", graft.functions.NormD(col("v")))
      .filter(col("n") > 0)
    // blocked projections of the unit vector: raw leading coordinates, or
    // the top principal axes when the corpus is anisotropic
    val projections: Seq[Column] =
      if (!pcaRotate) (0 until blockDims).map(i => element_at(col("v"), i + 1) / col("n"))
      else {
        import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
        import org.apache.spark.mllib.linalg.distributed.RowMatrix
        val rows = base0.select(col("v"), col("n")).rdd.map { row =>
          val arr = row.getSeq[Double](0).toArray
          val n = row.getDouble(1)
          MlVectors.dense(arr.map(_ / n))
        }
        val pc = new RowMatrix(rows).computePrincipalComponents(blockDims)
        val dim = pc.numRows
        (0 until blockDims).map { j =>
          val axis = array((0 until dim).map(i => lit(pc(i, j))): _*)
          graft.functions.DotProductD(col("v"), axis) / col("n")
        }
      }
    val base = base0.withColumn("cell", struct(
      projections.zipWithIndex.map { case (p, i) =>
        floor(p / r).cast("long").as(s"c$i")
      }: _*))
    val offsets = // all 3^blockDims per-dim {-1,0,1} displacement tuples
      Seq.fill(blockDims)(Seq(-1, 0, 1)).foldLeft(Seq(Seq.empty[Int])) {
        (acc, ds) => for (t <- acc; d <- ds) yield t :+ d
      }
    // Stage 1 — candidate generation over SKETCHES, not vectors. The cell
    // join is where the quadratic candidate volume lives (for isotropic
    // high-dim corpora the per-projection spread ~1/√dim is SMALLER than
    // the cell width r, so grid blocking rejects only a minority of pairs
    // — the sf10 byte audit measured this, see BASELINE.md), so the rows
    // flowing through it must be as narrow as possible: an int8 sketch of
    // the unit vector (binary(dim), ~64 B) instead of the double array
    // (~512 B). The integer sketch dot admits a PROVABLE error bound
    // (quantBound, ≈0.064 at dim 64): any pair with true cosine >= t has
    // sketch cosine >= t − bound, so prefiltering at t − bound keeps
    // every qualifying pair — no approximation, just a cheap necessary
    // condition. Random pairs of an embedding corpus sit ~N(0, 1/dim), so
    // the prefilter also kills ~all non-dup candidates before stage 2.
    val sketch = base.select(col("id"), col("cell"),
      graft.functions.QuantizeUnitI8(col("v"), col("n")).as("q"))
    val probes = sketch.withColumn("cell", explode(array(offsets.map(off =>
      struct((0 until blockDims).map(i =>
        (col("cell")(s"c$i") + off(i)).as(s"c$i")): _*)): _*)))
    // integer dot vs (t − bound)·127², with bound from the pair's actual
    // dim (length of the binary sketch) and an ulp of slack on the KEEP
    // side — dropping a true pair would break exactness, keeping one
    // near-miss only costs stage 2 an extra exact dot
    val d = length(col("qa")).cast("double")
    val pre = graft.functions.DotProductI8(col("qa"), col("qb")).cast("double") >=
      (lit(threshold) - (lit(2.0) * sqrt(d) + d / lit(254.0)) / lit(254.0) -
        lit(1e-12)) * lit(127.0 * 127.0)
    val cand = sketch.select(col("id").as("id_a"), col("q").as("qa"), col("cell"))
      .join(probes.select(col("id").as("id_b"), col("q").as("qb"), col("cell")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(pre)
      .select("id_a", "id_b")
    // Stage 2 — exact verify on the survivors only: join the (tiny) pair
    // set back to the full vectors and recompute cos = dot(va,vb)/(na·nb)
    // with the same sequential IEEE fold as the HOF form, so the output is
    // bit-identical to the single-stage shape (DuckDB-oracle parity).
    val vecs = base0.select(col("id"), col("v"), col("n"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na")),
        Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb")),
        Seq("id_b"))
      .withColumn("cos_sim",
        graft.functions.DotProductD(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** The provable |true cosine − int8-sketch cosine| bound at dimension
    * `d` (unit vectors, round-to-nearest int8 coordinates, see
    * [[graft.functions.QuantizeUnitI8]]): each coordinate is within
    * 1/254 of the unit coordinate, so the dot errs by at most
    * Σ|a_i|·(1/254) + Σ|q_i/127|·(1/254) ≤ (2√d + d/254)/254 by
    * Cauchy-Schwarz on the L1 norms. ≈0.0640 at d=64. Exposed for specs
    * and for callers sizing their own prefilter thresholds. */
  def quantBound(d: Int): Double = (2.0 * math.sqrt(d.toDouble) + d / 254.0) / 254.0

  /** LSH-bucketed ANN: equi-join query and corpus on the signature bucket
    * (multi-probe: also the nBits single-bit-flip neighbor buckets of the
    * query, recovering most near-boundary misses), then exact rank within
    * candidates. */
  def lshCosineTopK(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    nBits: Int = 8, dim: Int = 64,
                    family: String = "rng"): DataFrame = {
    val c = corpusVectors(corpus, idCol, vecCol)
      .withColumn("bucket", hyperplaneSignature(col("nv"), nBits, dim, family))
    val sig = col("sig")
    val q = queryVectors(queries, idCol, vecCol)
      .withColumn("sig", hyperplaneSignature(col("qv"), nBits, dim, family))
      .withColumn("bucket",
        explode(array(sig +: (0 until nBits).map(b => sig.bitwiseXOR(lit(1 << b))): _*)))
      .drop("sig")
    topKByCos(q.join(c, Seq("bucket")).withColumn("cos_sim", cosSim)
      .dropDuplicates("query_id", "neighbor_id"), k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** IVF nProbe tuning curve — recall@k for several probe widths in ONE
    * pass: the corpus is assigned to cells once, each query's probe cells
    * are ranked once to max(nProbes), and every sweep setting is a pure
    * FILTER of that shared candidate join (probe rank < nProbe) — the
    * sweep costs one index build + one candidate join at the widest
    * setting, not |settings| of either. The exact top-k truth is also
    * computed once. Static first-nCells codebook (the q73 convention);
    * zero-hit probes stay visible via the (setting × query) grid.
    * Output: (n_probe, query_id, n_hits, recall). */
  def ivfRecallCurve(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nCells: Int, nProbes: Seq[Int]): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1))
    val ivf = lowestIdIvf(corpus, idCol, vecCol, nCells)
    val q0 = queryVectors(queries, idCol, vecCol).filter(col("qn") > 0)
    val probes = q0.select(col("query_id"), col("qv"), col("qn"),
      posexplode(ivf.probeCells(nProbes.max)).as(Seq("prank0", "cell")))
    val cand = probes.join(ivf.assigned, Seq("cell"))
      .withColumn("cos_sim", cosSim)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("prank0"))
    val settings = array(nProbes.map(lit): _*)
    val ivfTop = topKByCos(cand.withColumn("n_probe", explode(settings))
        .filter(col("prank0") < col("n_probe")), k, keys = Seq("n_probe", "query_id"))
      .select(col("n_probe"), col("query_id"), col("neighbor_id"))
    val exact = cosineTopK(queries, corpus, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(ivfTop, Seq("query_id", "neighbor_id"))
      .groupBy("n_probe", "query_id").agg(count(lit(1)).as("__h"))
    q0.select(col("query_id")).withColumn("n_probe", explode(settings))
      .join(hits, Seq("n_probe", "query_id"), "left")
      .select(col("n_probe"), col("query_id"),
        coalesce(col("__h"), lit(0L)).as("n_hits"),
        round(coalesce(col("__h"), lit(0L)).cast("double") / k, 4).as("recall"))
  }

  /** IVF-flat with TRAINED centroids — the production IVF shape: the
    * coarse quantizer comes from k-means over the corpus
    * ([[graft.ml.KMeans.lloydCentroids]], engine-replayable arithmetic)
    * instead of [[ivfCosineTopK]]'s lowest-id rule, so cells reflect the
    * data distribution and probe recall is what the cell count promises.
    * Cell assignment and probe ranking use squared L2 to the trained
    * centroids (the metric k-means optimized); the final re-rank inside
    * probed cells is cosine, same folds as [[cosineTopK]]. Corpus
    * assignment is [[graft.ml.KMeans.assign]]'s one-expression kernel
    * (`NearestCentroidL2`, centroids as constructor data) — no shuffle; the
    * query side ranks its probe cells with an `array_sort` over k literal
    * `(d, cid)` structs, and the probe join shuffles on cell id only. */
  def ivfTrainedTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nCells: Int = 8, nProbe: Int = 3,
                     trainIters: Int = 2): DataFrame = {
    val (centroids, cv) = graft.ml.KMeans.lloydCentroids(
      corpus, idCol, vecCol, nCells, trainIters)
    val assigned = graft.ml.KMeans.assign(cv, idCol, "__v", centroids)
      .select(col(idCol).as("neighbor_id"), col("__v").as("nv"),
        col("cluster").as("cell"))
      .withColumn("nn", norm(col("nv")))
      .filter(col("nn") > 0)
    val q0 = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .filter(col("qn") > 0)
    def dist2(c: Array[Double]): Column =
      aggregate(zip_with(col("qv"), array(c.map(lit).toIndexedSeq: _*),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, b) => a + b)
    val probeCells = slice(array_sort(array(centroids.toIndexedSeq.map {
      case (cid, cvec) => struct(dist2(cvec).as("d"), lit(cid).as("cid"))
    }: _*)), 1, nProbe)
    val probes = q0.withColumn("cell",
      explode(transform(probeCells, p => p.getField("cid"))))
    val sim = dot(col("qv"), col("nv")) / (col("qn") * col("nn"))
    topKByCos(probes.join(assigned, Seq("cell")).withColumn("cos_sim", sim), k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Matryoshka two-stage retrieval — the truncation-tolerant-embedding
    * pattern (MRL): embeddings trained so any PREFIX of the vector is
    * itself a usable lower-dimensional embedding. Retrieval exploits that
    * in two stages:
    *
    *   1. coarse: cosine over only the first `coarseDim` dims selects
    *      `candidates` per query. At scale the prefix is stored as its own
    *      (much narrower) column, so this scan reads `coarseDim/dim` of
    *      the bytes a full-vector scan would — with dim 64 → 16 that is a
    *      4× cut in scan traffic, and the per-pair dot is 4× cheaper.
    *   2. rerank: ONLY the candidate ids join back to the full-vector
    *      table (k·|Q| lookups, not a corpus scan) and are re-ranked by
    *      full-dim cosine.
    *
    * The join-back is deliberate: carrying full vectors through stage 1
    * would forfeit the narrow-scan benefit that motivates the operator.
    * Candidate selection is deterministic ((coarse desc, id asc) cut), so
    * the result is exactly reproducible by an external oracle. Both
    * stages are the same sequential IEEE folds as [[cosineTopK]]. */
  def matryoshkaTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     coarseDim: Int = 16, candidates: Int = 20): DataFrame = {
    val q = queryVectors(queries, idCol, vecCol)
      .withColumn("qc", slice(col("qv"), 1, coarseDim))
      .withColumn("qcn", graft.functions.NormD(col("qc")))
    // stage-1 corpus projection: prefix + its norm only (the narrow scan)
    val cCoarse = corpus.select(col(idCol).as("neighbor_id"),
        slice(asDouble(col(vecCol)), 1, coarseDim).as("nc"))
      .withColumn("ncn", graft.functions.NormD(col("nc")))
    val coarse = graft.functions.DotProductD(col("qc"), col("nc")) / (col("qcn") * col("ncn"))
    val cand = topKByScore(broadcast(q).crossJoin(cCoarse), Seq("query_id"),
        coarse, col("neighbor_id"), candidates, Seq("neighbor_id"))
      .join(broadcast(q.select("query_id", "qv", "qn")), "query_id")
    // stage-2: fetch full vectors for candidates only, exact rerank
    topKByCos(cand.join(corpusVectors(corpus, idCol, vecCol), Seq("neighbor_id"))
        .withColumn("cos_sim", cosSim), k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** Sign-bit binary quantization of a double-array column: bit i of word
    * w is `v[w·wordBits + i] > 0`. Words are `wordBits`-bit (32 by
    * default) so the packing is replayable on SQL engines whose BIGINT
    * left-shift rejects bit 63 (DuckDB raises on `1 << 63`); the cost vs
    * full 64-bit words is one extra long per 64 dims — noise next to the
    * 16× (float32) compression the quantization buys. The expression is a
    * static tree of `dim` codegen'd conditionals — no UDF. */
  def signPack(vec: Column, dim: Int, wordBits: Int = 32): Column = {
    require(dim % wordBits == 0, s"dim $dim must be a multiple of wordBits $wordBits")
    array((0 until dim by wordBits).map { w =>
      (0 until wordBits).map { i =>
        when(element_at(vec, w + i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** Binary-quantized ANN: corpus and queries are sign-packed
    * ([[signPack]]) to dim/8 bytes, candidates are selected by Hamming
    * distance (popcount of XOR — pure integer ops over 2 longs per pair
    * instead of 64 float multiply-adds), and the top `candidates` per
    * query join back to the float table for an exact cosine rerank.
    *
    * This is the memory-bandwidth play, complementing [[lshCosineTopK]]
    * (fewer pairs via bucketing) and the SQ8 path (cheaper bytes per
    * pair): at 100 TB the packed corpus is 16× smaller than float32, so
    * the stage-1 scan is bandwidth-bound on 1/16 the bytes; sign-bit
    * Hamming approximates angular distance (Charikar), and rerank
    * restores exactness on the shortlist. Ranking keys are integers, so
    * the candidate cut is deterministic ((hamming asc, id asc)) and
    * exactly oracle-replayable. */
  def binaryHammingTopK(queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        dim: Int = 64, candidates: Int = 20): DataFrame = {
    val nWords = dim / 32
    val q = queryVectors(queries, idCol, vecCol)
      .withColumn("qw", signPack(col("qv"), dim))
    val cPacked = corpus.select(col(idCol).as("neighbor_id"),
      signPack(asDouble(col(vecCol)), dim).as("nw"))
    val hamming = (0 until nWords).map { w =>
      bit_count(element_at(col("qw"), w + 1).bitwiseXOR(element_at(col("nw"), w + 1)))
    }.reduce(_ + _).cast("long")
    // hamming ASC as score DESC: -hamming is a small exact integer
    val cand = topKByScore(broadcast(q).crossJoin(cPacked).withColumn("hamming", hamming),
        Seq("query_id"), -col("hamming"), col("neighbor_id"), candidates,
        Seq("neighbor_id", "hamming"))
      .join(broadcast(q.select("query_id", "qv", "qn")), "query_id")
    topKByCos(cand.join(corpusVectors(corpus, idCol, vecCol), Seq("neighbor_id"))
        .withColumn("cos_sim", cosSim), k, payload = Seq("neighbor_id", "hamming", "cos_sim"))
      .select("query_id", "neighbor_id", "rank", "hamming", "cos_sim")
  }

  /** IVF-flat ANN — the inverted-file complement to [[lshCosineTopK]]'s
    * hyperplane buckets (the two standard coarse quantizers).
    *
    * The corpus is partitioned into `nCells` Voronoi cells around a small
    * centroid table; each query probes only its `nProbe` nearest cells and
    * exact-ranks the candidates. Recall comes from nProbe (probing every
    * cell degenerates to the exact scan); cost per query is ~nProbe/nCells
    * of the corpus.
    *
    * Centroid selection is DETERMINISTIC by contract — the `nCells`
    * lowest-id corpus vectors. That is deliberately not k-means: a fixed,
    * engine-independent rule means the whole operator (centroids →
    * assignment → probe → re-rank) is exactly reproducible by an external
    * SQL oracle, the same design rule as OracleHashes.scala. (On a real
    * corpus the ids are arbitrary, so low-ids are an arbitrary sample —
    * the IVF shape is unchanged, and a k-means-refined centroid table can
    * be swapped in without touching the operator.)
    *
    * Scale shape: the centroid table (nCells rows) rides in
    * [[graft.functions.NearestCentroidCell]] /
    * [[graft.functions.TopProbeCells]] as ONE reference object, so plan
    * size and codegen stay O(1) in nCells (real corpora want nCells ≈
    * 10³–10⁴) and the probe side is an O(nCells·nProbe) selection with no
    * in-row sort. Corpus assignment is ONE map-side pass over the corpus —
    * deliberately NOT a broadcast-join + arg-min aggregation, which would
    * explode the corpus ×nCells and re-aggregate it (a full corpus shuffle
    * the map-only form never pays); queries probe nProbe cells each, and
    * the only shuffle keys are cell ids, uniformly loaded when nCells ≫
    * skew. Ties in the nearest-centroid argmax break deterministically to
    * the lowest centroid id.
    *
    * Precondition: embeddings are non-null, uniform-dimension, and
    * nonzero-norm. Zero-norm vectors have undefined cosine (NaN), and
    * Spark's NaN-is-largest sort order diverges from SQL engines that sort
    * NaN first — so both sides filter `norm > 0` and the contract excludes
    * them outright. */
  def ivfCosineTopK(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val ivf = lowestIdIvf(corpus, idCol, vecCol, nCells)
    val probes = queryVectors(queries, idCol, vecCol).filter(col("qn") > 0)
      .withColumn("cell", explode(ivf.probeCells(nProbe)))
    topKByCos(probes.join(ivf.assigned, Seq("cell")).withColumn("cos_sim", cosSim), k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** The lowest-id IVF index of [[ivfCosineTopK]] and [[ivfRecallCurve]]:
    * the nonzero-norm corpus (neighbor_id, nv, nn) with its nearest `cell`,
    * and the query side's (qv, qn) probe list. */
  private final class LowestIdIvf(val assigned: DataFrame, ids: Array[Long],
                                  vecs: Array[Array[Double]], norms: Array[Double]) {
    def probeCells(nProbe: Int): Column =
      graft.functions.TopProbeCells(col("qv"), col("qn"), ids, vecs, norms, nProbe)
  }

  private def lowestIdIvf(corpus: DataFrame, idCol: String, vecCol: String,
                          nCells: Int): LowestIdIvf = {
    val c0 = corpusVectors(corpus, idCol, vecCol).filter(col("nn") > 0)
    // The centroid table is nCells rows by construction — materialize it to
    // the driver (one tiny job, the Stats/PCA precedent). The norm
    // replicates NormD's fold (sequential acc + x·x, then sqrt) so cosines
    // are bit-identical to what a joined NormD column would give.
    val centroids = c0
      .orderBy("neighbor_id").limit(nCells)
      .select(col("neighbor_id"), col("nv"))
      .collect()
      .map { r =>
        val id = r.get(0) match { case l: Long => l; case i: Int => i.toLong }
        (id, r.getSeq[Double](1).toArray)
      }
      .sortBy(_._1)
    val ids = centroids.map(_._1)
    val vecs = centroids.map(_._2)
    val norms = vecs.map(v => math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
    new LowestIdIvf(
      c0.withColumn("cell",
        graft.functions.NearestCentroidCell(col("nv"), col("nn"), ids, vecs, norms)),
      ids, vecs, norms)
  }
}
