package graft.stats

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed statistics operators (SURVEY.md §2.9 M1-M4, M8).
  *
  * The reference computes these with R's in-memory `cov`/`cor`/`chisq.test`/
  * `aov` (`R_groupe4.R:789-902`). Here each reduces to grouped/global
  * aggregation — a single map-side-combined shuffle producing a tiny result,
  * so every one of these scales linearly with input and is independent of
  * driver memory. No `.collect()` mid-plan anywhere.
  */
object Stats {

  /** M1/M2 — pairwise covariance + Pearson correlation for the given column
    * pairs, "complete.obs" semantics per pair (ref `R_groupe4.R:789-818`:
    * `cov`/`cor(use="complete.obs")`). One row out per pair. */
  def corrPairs(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    val aggs = pairs.flatMap { case (a, b) =>
      Seq(
        corr(col(a), col(b)).as(s"corr_${a}_${b}"),
        covar_samp(col(a), col(b)).as(s"cov_${a}_${b}"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** M3/M4 — Pearson χ² test of independence for two categorical columns
    * (ref `R_groupe4.R:831-841,876-902`; no Yates correction, as R applies
    * it only to 2×2 tables — SURVEY.md §7-4). Output: (chi2_stat, dof,
    * p_value) — the full line R's `chisq.test` prints, the p-value via the
    * codegen'd regularized-incomplete-gamma expression.
    *
    * Contingency counts via one hash aggregation; margins via windows over
    * the (tiny: |distinct a|×|distinct b| rows) count table, so the heavy
    * input is touched exactly once. The level counts for `dof` are
    * `size(collect_set(...))` in the same final aggregate — the values of
    * `countDistinct` (nulls ignored, 0 on empty input), without the
    * `Expand` and the extra shuffles a distinct aggregate plans. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    def levels(c: String): Column = size(collect_set(col(c))).cast("bigint")
    val obs = df.groupBy(col(aCol).as("r"), col(bCol).as("c"))
      .agg(count(lit(1)).cast("double").as("o"))
    val wAll = Window.partitionBy()
    val e = obs
      .withColumn("rm", sum("o").over(Window.partitionBy("r")))
      .withColumn("cm", sum("o").over(Window.partitionBy("c")))
      .withColumn("n", sum("o").over(wAll))
      .withColumn("exp", col("rm") * col("cm") / col("n"))
    val d = col("o") - col("exp")
    e.agg(
        sum(d * d / col("exp")).as("chi2_stat"),
        ((levels("r") - 1) * (levels("c") - 1)).as("dof"))
      .withColumn("p_value",
        graft.functions.PValue.chiSquare(col("chi2_stat"), col("dof")))
  }

  /** M8 — one-way ANOVA of `valueCol` across groups of `groupCol` (ref
    * `R_groupe4.R:872-874`: `aov(age_estim ~ clc_quartier)`). Output adds
    * the (df_between, df_within, p_value) triple that `summary(aov(...))`
    * prints, the p-value via the codegen'd incomplete-beta expression.
    *
    * Classic sufficient-statistics decomposition: per-group (n, mean, var)
    * from one aggregation; SS_between = Σ n_g(m_g − gm)², SS_within =
    * Σ (n_g−1)·var_g. Exact, one pass, no iteration. */
  def anova(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val g = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast("double").as("n"),
        avg(col(valueCol)).as("m"),
        var_samp(col(valueCol)).as("v"))
    val wAll = Window.partitionBy()
    val t = g
      .withColumn("nn", sum("n").over(wAll))
      .withColumn("gm", sum(col("n") * col("m")).over(wAll) / col("nn"))
      .withColumn("k", count(lit(1)).over(wAll).cast("double"))
    val dm = col("m") - col("gm")
    t.agg(
        (sum(col("n") * (dm * dm)) / (max("k") - 1)).as("ms_between"),
        (sum((col("n") - 1) * col("v")) / (max("nn") - max("k"))).as("ms_within"),
        (max("k") - 1).as("df_between"),
        (max("nn") - max("k")).as("df_within"))
      .withColumn("f_stat", col("ms_between") / col("ms_within"))
      .withColumn("p_value",
        graft.functions.PValue.f(col("f_stat"), col("df_between"), col("df_within")))
  }

  /** A2 — exact quantiles (ref `R_groupe4.R:219-222`). Exact `percentile`
    * for oracle parity; at unbounded scale callers switch to
    * `approx = true` (t-digest-style `percentile_approx`, SURVEY.md §7-3). */
  def quantiles(df: DataFrame, c: String, probs: Seq[Double], approx: Boolean = false): Column = {
    val arr = probs.mkString("array(", ",", ")")
    if (approx) expr(s"percentile_approx($c, $arr, 10000)")
    else expr(s"percentile($c, $arr)")
  }

  /** Session-level accuracy switch for every quantile-consuming query
    * (q12/q13/q59): `graft.quantiles.exact` — default TRUE (exact
    * `percentile`: required for oracle parity and R-exact medians, but the
    * exact aggregate buffers a per-partition value multiset, so memory
    * grows with per-group cardinality); set FALSE to flip all consumers to
    * the bounded-memory `percentile_approx` sketch (the 100 TB default —
    * q40 is the always-sketch twin). */
  def quantileExpr(spark: org.apache.spark.sql.SparkSession, c: String, prob: Double): Column = {
    val exact = spark.conf.getOption("graft.quantiles.exact").forall { v =>
      if (v.equalsIgnoreCase("true")) true
      else if (v.equalsIgnoreCase("false")) false
      else throw new IllegalArgumentException(
        s"graft.quantiles.exact must be 'true' or 'false', got '$v'")
    }
    if (exact) expr(s"percentile($c, $prob)")
    else expr(s"percentile_approx($c, $prob, 10000)")
  }

  /** Robust per-group outlier flags via median absolute deviation — the
    * quality-control cut that survives the heavy-tailed length/score
    * distributions real corpora have (mean/stddev z-scores are dragged by
    * the very outliers they're meant to find; the median/MAD pair has a
    * 50% breakdown point).
    *
    * Two grouped exact-median aggregations (median of the value, then
    * median of |value − median|), each a map-side-combinable hash agg on
    * the group key; the per-group (med, mad) tables are |groups| rows and
    * broadcast back, so the corpus itself is scanned twice and never
    * re-shuffled. At unbounded per-group cardinality the exact percentile
    * buffers a value multiset — same trade as [[quantiles]], and the same
    * switch applies (flip to percentile_approx for the 100 TB default).
    *
    * Parity: exact `percentile(·, 0.5)` is linear-interpolated like
    * DuckDB's `quantile_cont` (q12/q104 precedent). Over integer inputs
    * every median is an exact multiple of 0.5, |x − med| and 3·mad are
    * exact IEEE doubles, so the cutoff comparison needs no rounding seam.
    * The flag is a counting CASE (BIGINT 0/1), not a boolean sum. */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  cutoff: Double = 3.0): DataFrame = {
    val keys = groupCols.map(col)
    val med = df.groupBy(keys: _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val dev = df.join(F.broadcast(med), groupCols)
      .withColumn("__adev", abs(col(valueCol) - col("med")))
    val mad = dev.groupBy(keys: _*)
      .agg(expr("percentile(__adev, 0.5)").as("mad"))
    dev.join(F.broadcast(mad), groupCols)
      .withColumn("is_outlier",
        (col("__adev") > lit(cutoff) * col("mad")).cast("long"))
      .drop("__adev")
  }

  /** Mann-Whitney U rank-sum test (two-sided, normal approximation with
    * tie correction, no continuity correction — documented choice so the
    * oracle replays the identical formula) comparing `valueCol` between
    * groups `a` and `b` of `groupCol`. The nonparametric companion to
    * Welch's t (q145) and KS (q148): distribution-free shift detection.
    *
    * Scale shape: one hash agg collapses the corpus to DISTINCT VALUES of
    * the metric (bounded cardinality — doc lengths, scores), the running
    * rank is a window over that distinct-value table (the modePerGroup
    * device: window input is |distinct values|, not |rows|), and the test
    * statistic is one more scalar agg. Average ranks are kept as exact
    * integers via the 2·avg_rank = 2·cum − t + 1 identity, so U, the tie
    * term Σ(t³−t) and the z numerator are exact long arithmetic — z is
    * the only float op, mirrored op-for-op in the oracle SQL. */
  def mannWhitneyU(df: DataFrame, valueCol: String, groupCol: String,
                   a: String, b: String): DataFrame = {
    val sub = df.filter(col(groupCol).isin(a, b))
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"))
    val byV = sub.groupBy("__v").agg(
      count(lit(1)).as("t"),
      sum(when(col("__g") === a, 1L).otherwise(0L)).as("ta"))
    val w = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byV.withColumn("cum", sum(col("t")).over(w))
    val agg = ranked.agg(
      sum(col("ta") * (col("cum") * 2 - col("t") + 1)).as("r2a"),
      sum(col("ta")).as("na"),
      sum(col("t") - col("ta")).as("nb"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    val z0 = agg.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      ((col("r2a") - col("na") * (col("na") + 1)).cast("double") / 2).as("u_a"),
      (col("na").cast("double") * col("nb") -
        (col("r2a") - col("na") * (col("na") + 1)).cast("double") / 2).as("u_b"),
      round(
        (col("r2a") - col("na") * (col("na") + 1) - col("na") * col("nb")).cast("double") /
          (lit(2) * sqrt(col("na").cast("double") * col("nb") / lit(12.0) *
            ((col("na") + col("nb") + 1).cast("double") -
              col("ties").cast("double") /
                ((col("na") + col("nb")).cast("double") * (col("na") + col("nb") - 1))))),
        6).as("z"))
    z0.withColumn("significant", abs(col("z")) > lit(1.959964))
  }
}
