package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Systematic probability-proportional-to-size (PPS) sampling — the
  * deterministic eval-set/audit sampler: lay the corpus out on a number
  * line (each row occupies an interval equal to its weight), drop n
  * equally-spaced probe points, and take each row once per probe point
  * inside its interval. Every arithmetic step is exact integer math, so
  * the sample is bit-reproducible on any engine and any partitioning —
  * the property hash-Bernoulli (q103) and reservoir (q177) sampling give
  * up (the first fixes rate not size, the second is deterministic only
  * per traversal order).
  *
  * Probe points sit at (k + 1/2)·W/n for k = 0..n-1 (the standard
  * half-step phase — no row is privileged by starting at 0). Row r with
  * exclusive prefix sum c and weight w is taken once per k with
  * c ≤ (k+1/2)·W/n < c+w. Clearing denominators, that is the count of
  * ODD integers m = 2k+1, 1 ≤ m ≤ 2n−1, with m·W ∈ [2n·c, 2n·(c+w)) —
  * evaluated entirely in BIGINT via ceil-division and the odd-count
  * identity |odds ≤ x| = (x+1) DIV 2, keeping every DIV operand
  * nonnegative (SQL DIV truncates toward zero, so a negative operand
  * would silently round the wrong way). Bounds: 2nW must fit a long;
  * n ≤ 10⁶ over a 10¹² total weight is 2·10¹⁸ < 2⁶³. A row heavier than
  * W/n is taken multiple times (`copies` > 1) — that IS PPS semantics;
  * Σ copies = n exactly (the n probe points partition among intervals).
  *
  * Scale shape: the global prefix sum is [[GlobalRank]]'s read-once scan
  * (no corpus-wide window), the total is a 1-row broadcast, and the
  * probe-count formula is a pure per-row expression. */
object Sampling {

  /** Rows selected by systematic PPS with their exact multiplicity.
    * Output: idCol, weight (long), copies (long ≥ 1); Σ copies = n.
    * Zero/negative-weight rows are excluded (they occupy no interval). */
  def systematicPps(df: DataFrame, idCol: String, weightCol: String,
                    n: Long): DataFrame = {
    require(n >= 1, s"sample size must be >= 1: $n")
    val w = df.select(col(idCol), col(weightCol).cast("long").as("weight"))
      .filter(col("weight") > 0)
    val cum = GlobalRank.exclusivePrefixSum(w, idCol, "weight")
    val tot = cum.agg(sum(col("weight")).as("__W"))
    cum.crossJoin(broadcast(tot))
      .withColumn("__lo", lit(2L) * n * col("cum_before"))
      .withColumn("__hi", lit(2L) * n * (col("cum_before") + col("weight")))
      // m ranges over [__mlo, __mhi]: m ≥ ceil(__lo/W) and (strict upper
      // bound of an integer-scaled rational) m ≤ ceil(__hi/W) − 1,
      // clamped to the odd-probe range [1, 2n−1]
      .withColumn("__mlo", expr(
        "greatest((__lo + __W - 1) DIV __W, CAST(1 AS BIGINT))"))
      .withColumn("__mhi", expr(
        s"least(((__hi + __W - 1) DIV __W) - 1, CAST(${2 * n - 1} AS BIGINT))"))
      // count of odd m in [__mlo, __mhi] = f(__mhi) − f(__mlo − 1) with
      // f(x) = (x+1) DIV 2; both operands are ≥ 0 by the clamps above
      .withColumn("copies", expr(
        "greatest(((__mhi + 1) DIV 2) - (__mlo DIV 2), CAST(0 AS BIGINT))"))
      .filter(col("copies") > 0)
      .select(col(idCol), col("weight"), col("copies"))
  }
}
