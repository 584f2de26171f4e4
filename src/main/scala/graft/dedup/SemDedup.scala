package graft.dedup

import graft.ml.KMeans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication via embedding clustering (Abbas et
  * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication", arXiv:2303.09540): k-means partitions the
  * embedding space, then near-duplicate pruning runs INSIDE each cluster
  * only. This catches paraphrases and re-encodings that share no n-grams
  * (invisible to MinHash/SimHash/Jaccard — q32/q33/q34's lexical view)
  * while avoiding the all-pairs cosine join: pairwise work is
  * O(Σ|cluster|²), and k is chosen ∝ corpus size so cluster width stays
  * bounded — exactly the published algorithm's scale argument (the paper
  * runs it on LAION-scale data with k in the tens of thousands).
  *
  * Survivor rule: within a cluster, a row is dropped iff some LOWER-id
  * row in the same cluster has cosine ≥ `threshold` — the deterministic
  * lowest-id-survivor convention the exact-dedup family already uses
  * (q03/q94), replacing the paper's keep-farthest-from-centroid pick so
  * the kept set is engine-replayable.
  *
  * Parity: clustering is [[KMeans.lloydCentroids]] + [[KMeans.assign]]
  * (every step oracle-replayable, q105), and the cosine is the same
  * sequential fold the q27/q69 oracles replay bit-for-bit — so the
  * unrounded `>= threshold` comparison is engine-exact and the oracle
  * recomputes train → assign → pairwise → flag end-to-end in SQL.
  */
object SemDedup {

  /** Annotates every embedding row with its k-means `cluster` (BIGINT)
    * and `kept` (0/1 BIGINT counting flag; 0 = semantic duplicate of a
    * lower-id same-cluster row at cosine ≥ threshold).
    *
    * Ids are expected to be unique. The rule compares ids, so rows that
    * share an id never flag each other, and the result has one row per
    * distinct (id, cluster): copies of an id that land in one cluster come
    * out as ONE row, flagged if any copy has a lower-id near-duplicate.
    *
    * Plan: the assignment keeps each row's vector, so no join goes back
    * to the corpus, and the flag is one left self-join on `cluster`
    * followed by a (id, cluster) count that the join's cluster
    * partitioning already satisfies.
    *
    * SIZING RULE (measured, r14 sf10 audit): the O(Σ|cluster|²) bound is
    * only sub-quadratic if `k` GROWS with the corpus — at a FIXED k the
    * within-cell pair count is n²/k and the cluster equi-join's shuffle
    * parallelism is capped at k partitions (q108's pinned k=8 measured
    * 44× wall at 10× rows, sf1→sf10). Size k ≈ n / targetCellSize with
    * targetCellSize a few thousand (the paper uses k in the tens of
    * thousands at LAION scale); k×dims doubles per Lloyd round is the
    * only driver-side state, so large k costs a larger centroid table in
    * the assignment kernel, not a new shuffle. q108 keeps k=8 because its
    * DuckDB oracle replays that exact k-means trace. */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
               k: Int, trainIters: Int, threshold: Double): DataFrame = {
    val (centroids, v) = KMeans.lloydCentroids(vecs, idCol, vecCol, k, trainIters)
    // norms once per ROW (NormD), one tight-loop dot per PAIR — the
    // q27/q69 pattern: same IEEE sequence as the per-pair HOF cosine
    // (norms are per-row constants), so values are bit-unchanged while
    // the dominant per-pair cost drops to a single JVM loop.
    val rows = KMeans.assign(v, idCol, "__v", centroids)
      .select(col(idCol).as("__id"), col("cluster"), col("__v"),
        graft.functions.NormD(col("__v")).as("__n"))
    val (b, a) = (rows.as("b"), rows.as("a"))
    // One left self-join on cluster: every row meets its lower-id
    // near-duplicates in the same cluster, and a row with none is kept.
    // Never a cross join.
    b.join(a, col("a.cluster") === col("b.cluster") && col("a.__id") < col("b.__id")
        && graft.functions.DotProductD(col("a.__v"), col("b.__v"))
          / (col("a.__n") * col("b.__n")) >= threshold, "left")
      .groupBy(col("b.__id"), col("b.cluster"))
      .agg(count(col("a.__id")).as("__dups"))
      .select(col("__id").as(idCol), col("cluster"),
        (col("__dups") === 0L).cast("long").as("kept"))
  }
}
