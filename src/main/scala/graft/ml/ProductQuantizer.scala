package graft.ml

import graft.functions.NearestCentroidL2
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization for memory-bound ANN (Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011) — the
  * 100 TB similarity-search memory path: a d-dim float vector becomes
  * `blocks` one-byte codes (here 64 floats → 4 codes, a 64× compression),
  * and query-time distance is an additive lookup (ADC) instead of a float
  * fold over the raw vector.
  *
  * Training: an independent [[KMeans]] per dimension block (the engine's
  * replayable Lloyd's — lowest-id init, 6-dp rounded means), so the whole
  * codebook derivation is oracle-replayable SQL. Codebooks are k·d/blocks
  * doubles held on the driver, like the IVF centroid table.
  *
  * Job shape: ALL blocks train in ONE plan per Lloyd's iteration — init
  * is one collect of the k lowest-id vectors (sliced per block on the
  * driver; value-identical to a per-block orderBy+limit since slicing
  * commutes with the row pick, and the source of the vector width), and
  * each update is one (block, cluster, pos)-keyed mean aggregation over an
  * exploded per-block struct, collected and assembled into codebooks on
  * the driver. The job count is constant in `blocks`: q186 runs the probe
  * lookup, the init and two jobs per update. Per-block assignment is
  * [[KMeans.assign]]'s kernel, [[graft.functions.NearestCentroidL2]], and
  * the 6-dp round collapses any summation-order drift exactly as in
  * [[KMeans]].
  *
  * Encode + query plan shape: ONE projection over the corpus — nearest
  * codeword per block is one `NearestCentroidL2` call carrying that
  * block's codebook, and the probe's ADC term per block is a literal
  * code→distance lookup map (the classic per-query LUT). Zero shuffle for
  * encode and scoring; the only aggregation anywhere is the tiny
  * per-iteration training agg and the final TakeOrdered top-k. */
object ProductQuantizer {

  /** Per-block codebooks: block b covers vector dims [b·sub+1, (b+1)·sub].
    * Returns (block, codewordId, centroid) — codeword ids are the q105
    * lowest-id-init cluster labels. */
  def trainCodebooks(vecs: DataFrame, idCol: String, vecCol: String,
                     blocks: Int, codebookSize: Int, iters: Int)
      : Seq[(Int, Seq[(Long, Array[Double])])] =
    trainOn(KMeans.doubleVectors(vecs, idCol, vecCol), idCol, blocks, codebookSize, iters)

  /** [[trainCodebooks]] over a pre-projected (idCol, __v double-array)
    * frame; the vector width comes from the init rows. */
  private def trainOn(v: DataFrame, idCol: String,
                      blocks: Int, codebookSize: Int, iters: Int)
      : Seq[(Int, Seq[(Long, Array[Double])])] = {
    // init: the codebookSize lowest-id vectors, collected ONCE and sliced
    // per block on the driver (identical to per-block orderBy+limit)
    val initRows = KMeans.lowestIdRows(v, idCol, codebookSize)
    val dims = initRows.head._2.length
    require(dims % blocks == 0, s"pq: $dims dims not divisible by $blocks")
    val sub = dims / blocks
    var centroids: IndexedSeq[Seq[(Long, Array[Double])]] =
      IndexedSeq.tabulate(blocks)(b =>
        initRows.map { case (id, a) => id -> a.slice(b * sub, (b + 1) * sub) })
    var i = 1
    while (i < iters) {
      // one plan updates every block: explode a per-block struct carrying
      // (blk, nearest cluster over THAT block's centroids, block slice),
      // then the per-(blk, cluster, pos) rounded means — KMeans
      // .roundedMeans keyed by blk as well, one collect for all blocks
      val perBlock = (0 until blocks).map { b =>
        val sv = slice(col("__v"), b * sub + 1, sub)
        struct(lit(b).as("blk"), NearestCentroidL2(sv, centroids(b)).as("cluster"),
          sv.as("bv"))
      }
      val byBlock = v.select(explode(array(perBlock: _*)).as("s"))
        .select(col("s.blk").as("blk"), col("s.cluster").as("cluster"),
          posexplode(col("s.bv")))
        .groupBy(col("blk"), col("cluster"), col("pos"))
        .agg(round(avg(col("col")), 6).as("m"))
        .collect().toSeq
        .groupBy(_.getInt(0))
      centroids = IndexedSeq.tabulate(blocks)(b =>
        KMeans.centroidsOf(byBlock.getOrElse(b, Seq.empty)
          .map(r => (r.getLong(1), r.getInt(2), r.get(3))), sub))
      i += 1
    }
    (0 until blocks).map(b => b -> centroids(b))
  }

  /** Top-k nearest to the `probeId` vector by PQ-ADC distance: encode the
    * corpus against the trained codebooks and score every row with the
    * probe's per-block code→distance LUT, all in one shuffle-free
    * projection. Returns (rank, idCol, adc) for the `topK` closest by
    * (adc rounded 6 dp, id). */
  def adcTopK(vecs: DataFrame, idCol: String, vecCol: String,
              blocks: Int = 4, codebookSize: Int = 16, iters: Int = 2,
              probeId: Long = 0L, topK: Int = 10): DataFrame = {
    val v = KMeans.doubleVectors(vecs, idCol, vecCol)
    val probe = v.filter(col(idCol) === probeId)
      .select(col("__v")).first().getSeq[Double](0).toArray
    val codebooks = trainOn(v, idCol, blocks, codebookSize, iters)
    val sub = codebooks.head._2.head._2.length
    require(probe.length == sub * blocks,
      s"pq: probe $probeId has ${probe.length} dims, the codebooks ${sub * blocks}")
    // per-block: nearest codeword id (one NearestCentroidL2 call), then
    // the probe-side ADC term via a literal lookup map — sequential adds
    // in ascending block order keep the sum bit-deterministic
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val adcTerms = codebooks.map { case (b, cws) =>
      val nearest = NearestCentroidL2(slice(col("__v"), b * sub + 1, sub), cws)
      val probeBlock = probe.slice(b * sub, (b + 1) * sub)
      val lut = map(cws.flatMap { case (cid, cw) =>
        Seq(lit(cid), lit(dist2(probeBlock, cw)))
      }.toIndexedSeq: _*)
      element_at(lut, nearest)
    }
    val adc = round(adcTerms.reduce(_ + _), 6)
    val scored = v.select(col(idCol), adc.as("adc"))
      .orderBy(col("adc"), col(idCol)).limit(topK)
    // rank over the collected top-k only (topK rows — not a corpus window)
    scored.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("adc"), col(idCol))).cast("long"))
      .select(col("rank"), col(idCol), col("adc"))
  }
}
