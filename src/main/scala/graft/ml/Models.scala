package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark.ml model operators (SURVEY.md §2.9 M5-M12).
  *
  * The reference fits `lm`/`glm` in-memory (`R_groupe4.R:843-847,981-1011`);
  * here both are distributed Pipelines. Linear regression uses the "normal"
  * (closed-form WLS) solver — deterministic and exact, one treeAggregate
  * pass over the executors; logistic uses L-BFGS with fixed iteration/tol
  * so refits are reproducible.
  */
object Models {

  /** M5/M6/M7 — linear regression with optional categorical predictors
    * (StringIndexer → OneHotEncoder → VectorAssembler → LinearRegression).
    * Output: one row per term — (term, estimate, std_err, t_value,
    * p_value) with feature names recovered from the assembled-vector ML
    * attribute metadata (so one-hot slots read "col_oh_LEVEL"), plus
    * __intercept / __rse (R's n−p−1 denominator) / __r2 metric rows. */
  /** Fail-loud cardinality guard for the one-hot paths: every categorical
    * column's distinct levels end up ON THE DRIVER (StringIndexer's
    * internal fit collect, [[logisticConfusion]]'s explicit one) and as
    * one indicator column each — inherent to one-hot, and unbounded in
    * principle. Rather than let a high-cardinality column silently
    * collect gigabytes, count distincts DISTRIBUTED first (one agg, a
    * scalar per column back) and refuse loudly past
    * `spark.graft.ml.maxCategories` (default 10k ≈ a few MB of labels
    * and a design matrix ML can still fit). APPROX count: N exact
    * countDistincts in one agg plan through Expand (input rows × N
    * through the shuffle — the guard alone would out-cost the fit on a
    * corpus-scale input), while HLL sketches all columns in one cheap
    * map-side pass; a ±2% estimate is irrelevant against an
    * order-of-magnitude driver-safety threshold. */
  private def requireBoundedCategories(df: DataFrame, cols: Seq[String]): Unit =
    if (cols.nonEmpty) {
      val maxCats = df.sparkSession.conf
        .get("spark.graft.ml.maxCategories", "10000").toLong
      val counts = df.agg(approx_count_distinct(col(cols.head), 0.02),
        cols.tail.map(c => approx_count_distinct(col(c), 0.02)): _*).head()
      // HLL at rsd=0.02 is a ±2%-per-sigma estimate, so fail only when the
      // estimate is clearly past the limit (> maxCats·(1+3σ)): a column a
      // hair over the threshold may pass, but one genuinely under it can
      // never be spuriously rejected — the right bias for an
      // order-of-magnitude driver-safety guard
      val failAt = (maxCats * 1.06).toLong
      cols.zipWithIndex.foreach { case (c, i) =>
        val n = counts.getLong(i)
        require(n <= failAt,
          s"one-hot guard: categorical column '$c' has ~$n distinct levels " +
            s"(±2% HLL estimate, > spark.graft.ml.maxCategories=$maxCats " +
            s"plus 3-sigma tolerance); one-hot encoding " +
            s"would collect them all to the driver and emit $n indicator " +
            s"columns — hash or bucket the column, or raise the conf if " +
            s"the driver can genuinely hold it")
      }
    }

  /** Dense m×m solve (Gauss-Jordan, partial pivoting) for the IRLS Newton
    * step — mutates copies, never the inputs. m is the feature count
    * (single digits here); driver-side by design, like the centered
    * normal-equations solve below. */
  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val m = b0.length
    val a = Array.tabulate(m, m)((i, j) => a0(i)(j))
    val b = b0.clone()
    for (c <- 0 until m) {
      var piv = c
      for (r2 <- c + 1 until m) if (math.abs(a(r2)(c)) > math.abs(a(piv)(c))) piv = r2
      if (piv != c) {
        val t = a(c); a(c) = a(piv); a(piv) = t
        val tb = b(c); b(c) = b(piv); b(piv) = tb
      }
      val d = a(c)(c)
      for (r2 <- 0 until m) if (r2 != c && a(r2)(c) != 0.0) {
        val f = a(r2)(c) / d
        for (c2 <- c until m) a(r2)(c2) -= f * a(c)(c2)
        b(r2) -= f * b(c)
      }
    }
    Array.tabulate(m)(j => b(j) / a(j)(j))
  }

  def linearRegression(df: DataFrame, labelCol: String,
                       numericCols: Seq[String], categoricalCols: Seq[String] = Nil)
  : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireBoundedCategories(df, categoricalCols)
    val indexers = categoricalCols.map(c =>
      new StringIndexer().setInputCol(c).setOutputCol(s"${c}_idx")
        .setStringOrderType("alphabetAsc").setHandleInvalid("keep"))
    val encoders = categoricalCols.map(c =>
      new OneHotEncoder().setInputCol(s"${c}_idx").setOutputCol(s"${c}_oh"))
    val assembler = new VectorAssembler()
      .setInputCols((numericCols ++ categoricalCols.map(c => s"${c}_oh")).toArray)
      .setOutputCol("features")
    val lr = new LinearRegression().setLabelCol(labelCol).setFeaturesCol("features")
      .setSolver("normal")
    val model = new Pipeline().setStages((indexers ++ encoders :+ assembler :+ lr).toArray)
      .fit(df)
    val lrm = model.stages.last.asInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel]
    val s = lrm.summary
    val n = s.numInstances.toDouble
    val p = lrm.coefficients.size.toDouble
    // R reports sigma with the n-p-1 denominator (SURVEY.md §7-4):
    val rse = math.sqrt(s.meanSquaredError * n / (n - p - 1))
    val names: Array[String] = {
      val field = model.transform(df.limit(1)).schema("features")
      val ag = org.apache.spark.ml.attribute.AttributeGroup.fromStructField(field)
      ag.attributes
        .map(_.map(a => a.name.getOrElse(s"f${a.index.getOrElse(-1)}")))
        .getOrElse(Array.tabulate(lrm.coefficients.size)(i => s"f$i"))
    }
    // summary arrays carry the intercept LAST when fitIntercept is on;
    // they're unavailable when WLS had to fall back to quasi-Newton on a
    // singular (collinear) design — degrade to NaN rather than fail
    val pAll = lrm.coefficients.size + 1
    val se = scala.util.Try(s.coefficientStandardErrors)
      .getOrElse(Array.fill(pAll)(Double.NaN))
    val tv = scala.util.Try(s.tValues).getOrElse(Array.fill(pAll)(Double.NaN))
    val pv = scala.util.Try(s.pValues).getOrElse(Array.fill(pAll)(Double.NaN))
    val coefRows = names.zipWithIndex.map { case (name, i) =>
      (name, lrm.coefficients(i), se(i), tv(i), pv(i))
    }.toSeq
    val nan = Double.NaN
    (coefRows ++ Seq(
      ("__intercept", lrm.intercept, se.last, tv.last, pv.last),
      ("__rse", rse, nan, nan, nan),
      ("__r2", s.r2, nan, nan, nan)))
      .toDF("term", "estimate", "std_err", "t_value", "p_value")
  }

  /** M5/M7 exact path — multivariate OLS via centered normal equations:
    * ONE map-side-combined aggregation computes every cross-moment
    * (`covar_pop` pairs + means, k(k+3)/2 + 2 aggregates), then the tiny
    * k×k system is solved on the driver by pivotless Gauss-Jordan (same
    * 1-row materialization as [[correlationMatrix]] — inherent, not a
    * scale concern). At 100 TB this is a single pass over the data,
    * deterministic and cross-engine reproducible — unlike the iterative
    * spark.ml fit, it is expressible in ANSI SQL and DuckDB-oracled (q36).
    *
    * Centered (covariance-matrix) form, not raw X'X: removing the
    * intercept/mean mass drops the condition number by orders of
    * magnitude, so engine-level 1-ulp differences in the moment sums stay
    * ~1e-10 relative after the solve. Pivotless elimination requires a
    * non-collinear design (callers pass drop-last indicator sets); the
    * covariance matrix of a non-degenerate design is positive definite, so
    * leading pivots are nonzero.
    *
    * Slope covariances: Var(β) = σ̂²·C⁻¹/n; intercept by β₀ = ȳ − β·x̄ with
    * Var(β₀) = σ̂²(1/n + x̄'C⁻¹x̄/n); σ̂² = n·(var_pop(y) − β·c_xy)/(n−p);
    * p-values from the Student-t tail ([[graft.stats.SpecialFunctions]]) —
    * the same quantities R's `summary(lm(...))` prints
    * (ref `R_groupe4.R:843-847`).
    *
    * @param indicators categorical terms as explicit (column, level)
    *        indicator pairs — levels must be statically known so the SQL
    *        oracle can mirror the design matrix exactly.
    */
  def olsExact(df: DataFrame, labelCol: String, numericCols: Seq[String],
               indicators: Seq[(String, String)] = Nil): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val featNames = numericCols ++ indicators.map { case (c, l) => s"${c}_oh_$l" }
    val featExprs = numericCols.map(c => col(c).cast("double")) ++
      indicators.map { case (c, l) => (col(c) === l).cast("double") }
    val k = featNames.size
    val base = df.na.drop((numericCols ++ indicators.map(_._1) :+ labelCol).distinct)
      .select(featExprs.zipWithIndex.map { case (e, i) => e.as(s"f$i") }
        :+ col(labelCol).cast("double").as("y"): _*)
    val aggs =
      Seq(count(lit(1)).cast("double").as("n")) ++
      (0 until k).map(i => avg(col(s"f$i")).as(s"m$i")) ++
      Seq(avg(col("y")).as("my"), var_pop(col("y")).as("vy")) ++
      (for { i <- 0 until k; j <- i until k }
        yield covar_pop(col(s"f$i"), col(s"f$j")).as(s"c_${i}_$j")) ++
      (0 until k).map(i => covar_pop(col(s"f$i"), col("y")).as(s"cy$i"))
    val row = base.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Double]("n")
    val means = Array.tabulate(k)(i => row.getAs[Double](s"m$i"))
    val my = row.getAs[Double]("my")
    val vy = row.getAs[Double]("vy")
    val cy = Array.tabulate(k)(i => row.getAs[Double](s"cy$i"))

    // Augmented [C | c_xy | I], eliminated with the EXACT op order the
    // generated oracle SQL uses (olsOracleSql) so both engines round alike.
    val w = 2 * k + 1
    val a = Array.tabulate(k)(r => Array.tabulate(w) { c =>
      if (c < k) row.getAs[Double](s"c_${math.min(r, c)}_${math.max(r, c)}")
      else if (c == k) cy(r)
      else if (c == k + 1 + r) 1.0 else 0.0
    })
    for (p <- 0 until k) {
      val piv = a(p)(p)
      for (r <- 0 until k if r != p) {
        val f = a(r)(p)
        for (c <- 0 until w) a(r)(c) = a(r)(c) - f * a(p)(c) / piv
      }
      for (c <- 0 until w) a(p)(c) = a(p)(c) / piv
    }
    val beta = Array.tabulate(k)(r => a(r)(k))
    def inv(i: Int, j: Int): Double = a(i)(k + 1 + j)

    val p = k + 1.0
    val betaDotCy = (0 until k).map(i => beta(i) * cy(i)).sum
    val s2 = n * (vy - betaDotCy) / (n - p)
    val quad = (0 until k).map(i =>
      means(i) * (0 until k).map(j => inv(i, j) * means(j)).sum).sum
    val b0 = my - (0 until k).map(i => beta(i) * means(i)).sum
    val se0 = math.sqrt(s2 * (1.0 / n + quad / n))
    val dofR = n - p
    def pv(t: Double) = graft.stats.SpecialFunctions.tPValueTwoSided(t, dofR)
    // M7 metric rows ride along with null inference columns: RSE = √s2
    // (already the R n−p−1-denominator form via s2), R² = explained/total
    // variance = β·c_xy / var_pop(y) — both closed-form over the same
    // moments, so the generated oracle reproduces them bit-alike.
    val rows: Seq[(String, Double, Option[Double], Option[Double], Option[Double])] =
      (("__intercept", b0, Some(se0), Some(b0 / se0), Some(pv(b0 / se0))) +:
      featNames.indices.map { i =>
        val se = math.sqrt(s2 * inv(i, i) / n)
        (featNames(i), beta(i), Some(se), Some(beta(i) / se), Some(pv(beta(i) / se)))
      }) :+
      ("__rse", math.sqrt(s2), None, None, None) :+
      ("__r2", betaDotCy / vy, None, None, None)
    rows.toDF("term", "estimate", "std_err", "t_value", "p_value")
  }

  /** DuckDB oracle for [[olsExact]]: identical moments (covar_pop/avg) and
    * the identical pivotless Gauss-Jordan, unrolled as one REPLACE-chained
    * CTE per elimination step — generated, so the algorithm can't drift
    * from the Scala solve.
    *
    * @param baseSql SELECT producing columns f0..f{k-1}, y (mirrors the
    *                Spark-side projection exactly)
    * @param terms   output term names, intercept excluded (feature order)
    */
  /** Ridge regression coefficient path — [[olsExact]]'s normal equations
    * with λ added to the covariance diagonal (the intercept stays
    * unpenalized, the textbook centered-ridge form), solved once per λ
    * over ONE distributed moment pass. The k×k elimination is driver-side
    * like olsExact — bounded by the model width, never the corpus — and
    * replays [[ridgeOracleSql]] op for op so the per-λ betas round alike
    * on both engines. Output: (lambda, term, est) with '__intercept'. */
  def ridgePath(df: DataFrame, labelCol: String, numericCols: Seq[String],
                lambdas: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = numericCols.size
    val base = df.na.drop((numericCols :+ labelCol).distinct)
      .select(numericCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"f$i") }
        :+ col(labelCol).cast("double").as("y"): _*)
    val aggs =
      (0 until k).map(i => avg(col(s"f$i")).as(s"m$i")) ++
      Seq(avg(col("y")).as("my")) ++
      (for { i <- 0 until k; j <- i until k }
        yield covar_pop(col(s"f$i"), col(s"f$j")).as(s"c_${i}_$j")) ++
      (0 until k).map(i => covar_pop(col(s"f$i"), col("y")).as(s"cy$i"))
    val row = base.agg(aggs.head, aggs.tail: _*).head()
    val means = Array.tabulate(k)(i => row.getAs[Double](s"m$i"))
    val my = row.getAs[Double]("my")
    val cy = Array.tabulate(k)(i => row.getAs[Double](s"cy$i"))
    def cov(i: Int, j: Int): Double =
      row.getAs[Double](s"c_${math.min(i, j)}_${math.max(i, j)}")
    val out = lambdas.flatMap { lam =>
      val a = Array.tabulate(k)(r => Array.tabulate(k + 1) { c =>
        if (c < k) cov(r, c) + (if (c == r) lam else 0.0)
        else cy(r)
      })
      for (p <- 0 until k) {
        val piv = a(p)(p)
        for (r <- 0 until k if r != p) {
          val f = a(r)(p)
          for (c <- 0 to k) a(r)(c) = a(r)(c) - f * a(p)(c) / piv
        }
        for (c <- 0 to k) a(p)(c) = a(p)(c) / piv
      }
      val beta = Array.tabulate(k)(r => a(r)(k))
      val intercept = my - (0 until k).map(i => beta(i) * means(i)).sum
      (numericCols.zip(beta.toSeq) :+ ("__intercept" -> intercept)).map {
        case (t, e) => (lam, t, e)
      }
    }
    out.toDF("lambda", "term", "est")
  }

  /** SQL twin of [[ridgePath]] — one shared moment CTE, a per-λ
    * Gauss-Jordan chain with the λ literal on the diagonal, and beta /
    * intercept rows UNION ALL'd. Same elimination op order as
    * [[olsOracleSql]]. */
  def ridgeOracleSql(baseSql: String, terms: Seq[String],
                     lambdas: Seq[Double], dp: Int): String = {
    val k = terms.size
    def cname(i: Int, j: Int) = s"c_${math.min(i, j)}_${math.max(i, j)}"
    val momentCols =
      (0 until k).map(i => s"avg(f$i) AS m$i") ++
      Seq("avg(y) AS my") ++
      (for { i <- 0 until k; j <- i until k } yield s"covar_pop(f$i, f$j) AS ${cname(i, j)}") ++
      (0 until k).map(i => s"covar_pop(f$i, y) AS cy$i")
    val chains = lambdas.zipWithIndex.map { case (lam, li) =>
      val initCols = (for { r <- 0 until k; c <- 0 to k } yield {
        val v =
          if (c < k && c == r) s"${cname(r, c)} + CAST($lam AS DOUBLE)"
          else if (c < k) cname(r, c)
          else s"cy$r"
        s"$v AS a_${r}_$c"
      }).mkString(", ")
      val stages = (0 until k).map { p =>
        val repl = (for { r <- 0 until k; c <- 0 to k } yield {
          if (r == p) s"a_${p}_$c / a_${p}_$p AS a_${r}_$c"
          else s"a_${r}_$c - a_${r}_$p * a_${p}_$c / a_${p}_$p AS a_${r}_$c"
        }).mkString(", ")
        s"g${p + 1}_$li AS (SELECT * REPLACE ($repl) FROM g${p}_$li)"
      }
      val chain = s"g0_$li AS (SELECT *, $initCols FROM m),\n${stages.mkString(",\n")}"
      val betaDotM = (0 until k).map(i => s"a_${i}_$k * m$i").mkString(" + ")
      val rows = terms.zipWithIndex.map { case (t, i) =>
        s"SELECT CAST($lam AS DOUBLE) AS lambda, '$t' AS term, a_${i}_$k AS est FROM gk_alias_$li"
          .replace(s"gk_alias_$li", s"g${k}_$li")
      } :+ s"SELECT CAST($lam AS DOUBLE) AS lambda, '__intercept' AS term, my - ($betaDotM) AS est FROM g${k}_$li"
      (chain, rows)
    }
    s"""WITH base AS ($baseSql),
       |m AS (SELECT ${momentCols.mkString(", ")} FROM base),
       |${chains.map(_._1).mkString(",\n")}
       |SELECT lambda, term, round(est, $dp) AS est
       |FROM (${chains.flatMap(_._2).mkString("\nUNION ALL\n")}) t""".stripMargin
  }

  def olsOracleSql(baseSql: String, terms: Seq[String], dp: Int): String = {
    val k = terms.size
    val w = 2 * k + 1
    def cname(i: Int, j: Int) = s"c_${math.min(i, j)}_${math.max(i, j)}"
    val momentCols =
      Seq("CAST(count(*) AS DOUBLE) AS n") ++
      (0 until k).map(i => s"avg(f$i) AS m$i") ++
      Seq("avg(y) AS my", "var_pop(y) AS vy") ++
      (for { i <- 0 until k; j <- i until k } yield s"covar_pop(f$i, f$j) AS ${cname(i, j)}") ++
      (0 until k).map(i => s"covar_pop(f$i, y) AS cy$i")
    val initCols = (for { r <- 0 until k; c <- 0 until w } yield {
      val v =
        if (c < k) cname(r, c)
        else if (c == k) s"cy$r"
        else if (c == k + 1 + r) "CAST(1 AS DOUBLE)" else "CAST(0 AS DOUBLE)"
      s"$v AS a_${r}_$c"
    }).mkString(", ")
    val stages = (0 until k).map { p =>
      val repl = (for { r <- 0 until k; c <- 0 until w } yield {
        if (r == p) s"a_${p}_$c / a_${p}_$p AS a_${r}_$c"
        else s"a_${r}_$c - a_${r}_$p * a_${p}_$c / a_${p}_$p AS a_${r}_$c"
      }).mkString(", ")
      s"g${p + 1} AS (SELECT * REPLACE ($repl) FROM g$p)"
    }
    val betaDotCy = (0 until k).map(i => s"a_${i}_$k * cy$i").mkString(" + ")
    val betaDotM = (0 until k).map(i => s"a_${i}_$k * m$i").mkString(" + ")
    val quad = (0 until k).map(i =>
      s"m$i * (${(0 until k).map(j => s"a_${i}_${k + 1 + j} * m$j").mkString(" + ")})")
      .mkString(" + ")
    val termRows =
      (s"SELECT '__intercept' AS term, my - ($betaDotM) AS est, sqrt(s2 * (1.0/n + ($quad)/n)) AS se FROM fin" +:
      terms.zipWithIndex.map { case (t, i) =>
        s"SELECT '$t' AS term, a_${i}_$k AS est, sqrt(s2 * a_${i}_${k + 1 + i} / n) AS se FROM fin"
      }) ++ Seq(
        s"SELECT '__rse' AS term, sqrt(s2) AS est, CAST(NULL AS DOUBLE) AS se FROM fin",
        s"SELECT '__r2' AS term, ($betaDotCy) / vy AS est, CAST(NULL AS DOUBLE) AS se FROM fin")
    s"""WITH base AS ($baseSql),
       |m AS (SELECT ${momentCols.mkString(", ")} FROM base),
       |g0 AS (SELECT *, $initCols FROM m),
       |${stages.mkString(",\n")},
       |fin AS (SELECT *, n * (vy - ($betaDotCy)) / (n - ${k + 1}) AS s2 FROM g$k)
       |SELECT term, round(est, $dp) AS estimate, round(se, $dp) AS std_err,
       | round(est / se, $dp) AS t_value
       |FROM (${termRows.mkString("\nUNION ALL\n")}) t""".stripMargin
  }

  /** M2 matrix form — Pearson correlation matrix of the given columns via
    * spark.ml.stat.Correlation (one distributed Gramian pass), returned
    * long-form: (var_a, var_b, corr). "complete.obs" semantics: rows with
    * any null among the columns are dropped first (ref `R_groupe4.R:803`). */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val assembled = new VectorAssembler().setInputCols(cols.toArray).setOutputCol("__v")
      .transform(df.na.drop(cols))
      .select("__v")
    val m = org.apache.spark.ml.stat.Correlation.corr(assembled, "__v", "pearson")
      .first().getAs[org.apache.spark.ml.linalg.Matrix](0)
    val rows = for {
      i <- cols.indices
      j <- cols.indices
      if i < j
    } yield (cols(i), cols(j), m(i, j))
    rows.toDF("var_a", "var_b", "corr")
  }

  /** M13 — decision tree classifier (imported but never used by the
    * reference; provided for completeness). Returns (label, prediction,
    * cnt) like [[logisticConfusion]].
    *
    * Fit (r18): greedy binary CART on Gini impurity with EXACT value
    * splits, ONE columnar histogram aggregation per depth level — all
    * open nodes and all features in a single pass over the cached input
    * (node id from a nested-when path expression; candidates = the
    * distinct feature values, split form x ≤ v), with split selection on
    * the driver over the bounded (node × feature × value × label) count
    * table. Replaces the spark.ml DecisionTreeClassifier fit, whose
    * per-level RDD machinery ran ~15 tiny driver-latency jobs on
    * sub-second inputs (the q37 disease — VERDICT r17 #3); the declared
    * query's output is unchanged: q42's label is a threshold on
    * l_discount (≤ 11 distinct values), so any greedy impurity split
    * finds the PURE root split — both engines emit the identical diagonal
    * confusion, at every SF, which is what the oracle pins (ModelsSpec
    * keeps the perfect-separation anchor). Ties break deterministically
    * (lowest gain-maximizing feature index, then lowest threshold).
    *
    * Scale guard: exact splits need bounded distinct values per feature
    * (`spark.graft.ml.maxSplitValues`, default 10k) — the histogram the
    * driver collects is nodes × features × values × labels. A feature
    * past the bound wants quantile binning first (the percentile_approx
    * device); failing loudly beats silently collecting a corpus. */
  def decisionTreeConfusion(df: DataFrame, labelCol: String,
                            numericCols: Seq[String], maxDepth: Int = 5): DataFrame = {
    val spark = df.sparkSession
    val selected = df.select((labelCol +: numericCols).distinct.map(col): _*)
    // same partition right-sizing as logisticConfusion (see its comment)
    val n = selected.count()
    val parts = math.max(1L,
      math.min(spark.sparkContext.defaultParallelism.toLong, n / 150000L + 1)).toInt
    val input = selected.coalesce(parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val maxVals = spark.conf.get("spark.graft.ml.maxSplitValues", "10000").toLong
      val distincts = input.agg(
        approx_count_distinct(col(numericCols.head), 0.02),
        numericCols.tail.map(c => approx_count_distinct(col(c), 0.02)): _*).head()
      numericCols.indices.foreach { i =>
        require(distincts.getLong(i) <= (maxVals * 1.06).toLong,
          s"decision-tree guard: feature '${numericCols(i)}' has " +
            s"~${distincts.getLong(i)} distinct values (±2% estimate, > " +
            s"spark.graft.ml.maxSplitValues=$maxVals plus 3-sigma) — exact " +
            s"splits would collect them all; bin the feature first or " +
            s"raise the conf")
      }
      // tree state: split(node) = (featureIdx, threshold); leaves(node) = prediction
      val splits = scala.collection.mutable.Map[Int, (Int, Double)]()
      val leaves = scala.collection.mutable.Map[Int, Double]()
      def nodeExpr: org.apache.spark.sql.Column =
        splits.toSeq.sortBy(_._1).foldLeft(lit(1): org.apache.spark.sql.Column) {
          case (acc, (node, (f, t))) =>
            val split = when(col(numericCols(f)).cast("double") <= t, node * 2)
              .otherwise(node * 2 + 1)
            // every row starts at the root (node 1, first in order): its
            // split needs no `1 = 1` guard
            if (node == 1) split else when(acc === node, split).otherwise(acc)
        }
      def gini(counts: Iterable[Long]): Double = {
        val tot = counts.sum.toDouble
        if (tot == 0.0) 0.0 else 1.0 - counts.map(c => (c / tot) * (c / tot)).sum
      }
      var open = Set(1)
      var depth = 0
      while (open.nonEmpty && depth <= maxDepth) {
        // one pass: per (node, feature, value, label) counts for all open
        // nodes — posexplode fans out |features|×, bounded output
        val hist = input
          .select(nodeExpr.as("__node"), col(labelCol).cast("double").as("__y"),
            posexplode(array(numericCols.map(c => col(c).cast("double")): _*))
              .as(Seq("__f", "__v")))
          .filter(col("__node").isin(open.toSeq: _*))
          .groupBy("__node", "__f", "__v", "__y").agg(count(lit(1)).as("__c"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
            r.getLong(4)))
        val byNode = hist.groupBy(_._1)
        val nextOpen = scala.collection.mutable.Set[Int]()
        open.toSeq.sorted.foreach { node =>
          val rows = byNode.getOrElse(node, Array.empty)
          // per-label totals from any one feature's histogram
          val f0 = if (rows.nonEmpty) rows.map(_._2).min else 0
          val labelTotals = rows.filter(_._2 == f0).groupBy(_._4)
            .map { case (y, rs) => y -> rs.map(_._5).sum }
          val majority =
            if (labelTotals.isEmpty) 0.0
            else labelTotals.toSeq.maxBy { case (y, c) => (c, -y) }._1
          val parentGini = gini(labelTotals.values)
          if (rows.isEmpty || parentGini == 0.0 || depth == maxDepth)
            leaves(node) = majority
          else {
            val total = labelTotals.values.sum.toDouble
            // best (feature, threshold): scan each feature's value-sorted
            // histogram accumulating left-side label counts
            var best: Option[(Double, Int, Double)] = None // (gain, f, t)
            rows.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (f, rs) =>
              val byVal = rs.groupBy(_._3).toSeq.sortBy(_._1)
              val left = scala.collection.mutable.Map[Double, Long]()
              byVal.dropRight(1).foreach { case (v, vrows) =>
                vrows.foreach(r => left(r._4) = left.getOrElse(r._4, 0L) + r._5)
                val nl = left.values.sum.toDouble
                val right = labelTotals.map { case (y, c) =>
                  c - left.getOrElse(y, 0L) }
                val gain = parentGini -
                  (nl / total) * gini(left.values.toSeq) -
                  ((total - nl) / total) * gini(right)
                if (best.forall { case (g, bf, bt) =>
                    gain > g + 1e-15 ||
                      (math.abs(gain - g) <= 1e-15 && (f < bf || (f == bf && v < bt)))
                  }) best = Some((gain, f, v))
              }
            }
            best match {
              case Some((gain, f, t)) if gain > 1e-12 =>
                splits(node) = (f, t)
                // the winning histogram already holds both children's label
                // distributions — leaf pure or depth-capped children NOW
                // instead of paying another histogram pass to discover it
                val leftCounts = rows.filter(r => r._2 == f && r._3 <= t)
                  .groupBy(_._4).map { case (yv, rs) => yv -> rs.map(_._5).sum }
                val rightCounts = labelTotals.map { case (yv, c) =>
                  yv -> (c - leftCounts.getOrElse(yv, 0L)) }
                Seq(node * 2 -> leftCounts, node * 2 + 1 -> rightCounts)
                  .foreach { case (child, counts) =>
                    val nz = counts.filter(_._2 > 0L)
                    if (gini(nz.values) == 0.0 || depth + 1 == maxDepth)
                      leaves(child) =
                        nz.toSeq.maxBy { case (yv, c) => (c, -yv) }._1
                    else nextOpen += child
                  }
              case _ => leaves(node) = majority
            }
          }
        }
        open = nextOpen.toSet
        depth += 1
      }
      val predExpr = leaves.toSeq.sortBy(_._1)
        .foldLeft(when(lit(false), 0.0)) { case (acc, (node, p)) =>
          acc.when(nodeExpr === node, lit(p))
        }.otherwise(lit(0.0))
      val confusion = input
        .select(col(labelCol).as("label"),
          predExpr.cast("int").as("prediction"))
        .groupBy("label", "prediction").agg(count(lit(1)).as("cnt"))
      val rows = confusion.collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), confusion.schema)
    } finally input.unpersist(blocking = false)
  }

  /** M9-M11 — logistic regression + 0.5-threshold confusion matrix.
    * Returns (label, prediction, cnt) rows — the reference's
    * `table(etat_binaire, pred)` (`R_groupe4.R:1009-1011`) plus accuracy.
    *
    * Fit: IRLS / Newton on the logistic log-likelihood, each iteration ONE
    * codegen'd columnar aggregation over the cached input computing the
    * gradient g = Σx(y−p) and Hessian H = Σ p(1−p)·xxᵀ (m(m+3)/2 sums for
    * m features), with the tiny m×m ridge-damped solve on the driver —
    * replacing spark.ml L-BFGS whose 12-iteration budget cost ~26
    * treeAggregate jobs of boxed Instance iteration (r18; measured: the
    * q37 wall was driver job latency, not compute — VERDICT r17 #3). At
    * corpus scale each Newton pass is one columnar scan of the cached
    * instances and Newton's quadratic convergence needs fewer passes than
    * L-BFGS. Converges to the same MLE on non-separable data (the loss is
    * strictly convex there; ModelsSpec pins the confusion against
    * model.transform of the spark.ml fit), and on a SEPARABLE label the
    * margins saturate (p → y exactly, so g → 0) after a few doublings and
    * the early exit fires — same perfect confusion, deterministic.
    * `maxIter` is the Newton budget; iteration stops early when the step
    * is numerically zero (the fixpoint — value-safe by definition).
    * The ridge (1e-9, relative to the Hessian diagonal scale) exists for
    * the all-levels one-hot encoding, which is exactly collinear with the
    * intercept; it perturbs the decision boundary by O(1e-9), far below
    * the margin of any decided point. */
  def logisticConfusion(df: DataFrame, labelCol: String,
                        numericCols: Seq[String], categoricalCols: Seq[String] = Nil,
                        maxIter: Int = 100)
  : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val selected = df.select(
      (labelCol +: (numericCols ++ categoricalCols)).distinct.map(col): _*)
    // same partition right-sizing as fitConfusion (see its comment)
    val n = selected.count()
    val parts = math.max(1L,
      math.min(spark.sparkContext.defaultParallelism.toLong, n / 150000L + 1)).toInt
    val input = selected.coalesce(parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val confusion = try {
      // One-hot encoding as pure column expressions: the labels query is
      // the exact StringIndexer(alphabetAsc)+OHE contract — distinct
      // non-null values sorted ascending each get a slot (with
      // handleInvalid=keep the phantom "unseen" index is what dropLast
      // drops), null/unseen rows are all-zeros.
      requireBoundedCategories(input, categoricalCols)
      val labelsPerCat: Seq[Array[String]] = categoricalCols.map { c =>
        input.filter(col(c).isNotNull).select(col(c).cast("string"))
          .distinct().as[String].collect().sorted
      }
      val oneHots = categoricalCols.zip(labelsPerCat).flatMap { case (c, labels) =>
        labels.map(lab => when(col(c) === lit(lab), 1.0).otherwise(0.0))
      }
      // feature expressions; the intercept's constant-1 column LAST
      val feats: IndexedSeq[org.apache.spark.sql.Column] =
        (numericCols.map(c => col(c).cast("double")) ++ oneHots).toIndexedSeq :+ lit(1.0)
      val m = feats.size
      val y = col(labelCol).cast("double")
      // The Newton passes run over a once-materialized primitive RDD of
      // (y, x[]) with a compiled-once treeAggregate closure (spark.ml's own
      // fit shape): a DataFrame agg per iteration re-runs the optimizer and
      // Janino-compiles a FRESH codegen class every round (the beta
      // literals change the plan), which measured as the dominant per-
      // iteration cost — the arithmetic itself is ~50 flops/row.
      val xy = input
        .select(y.as("__y"), array(feats.dropRight(1): _*).as("__x"))
        .as[(Double, Array[Double])].rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val beta: Array[Double] = try {
        val beta = Array.fill(m)(0.0)
        var it = 0
        var converged = false
        while (it < maxIter && !converged) {
          val b = beta.clone()
          val nF = m - 1
          // zero = gradient ++ packed upper-triangle Hessian
          val zero = new Array[Double](m + m * (m + 1) / 2)
          val (g_h) = xy.treeAggregate(zero)(
            seqOp = (acc, row) => {
              val (yv, x) = row
              var mg = b(nF) // intercept
              var j = 0
              while (j < nF) { mg += x(j) * b(j); j += 1 }
              val p = 1.0 / (1.0 + math.exp(-mg))
              val w = p * (1.0 - p)
              val r = yv - p
              def xj(i: Int): Double = if (i == nF) 1.0 else x(i)
              var idx = m
              j = 0
              while (j < m) {
                acc(j) += xj(j) * r
                var l = j
                while (l < m) { acc(idx) += w * xj(j) * xj(l); l += 1; idx += 1 }
                j += 1
              }
              acc
            },
            combOp = (a, c) => {
              var i = 0
              while (i < a.length) { a(i) += c(i); i += 1 }
              a
            })
          val g = Array.tabulate(m)(j => g_h(j))
          val h = Array.ofDim[Double](m, m)
          var idx = m
          for (j <- 0 until m; l <- j until m) {
            h(j)(l) = g_h(idx); h(l)(j) = h(j)(l); idx += 1
          }
          val scale = math.max(1.0, (0 until m).map(j => h(j)(j)).max)
          for (j <- 0 until m) h(j)(j) += 1e-9 * scale
          val delta = solve(h, g)
          val ok = delta.forall(d => !d.isNaN && !d.isInfinity)
          if (ok) for (j <- 0 until m) beta(j) += delta(j)
          val betaScale = math.max(1.0, beta.map(math.abs).max)
          converged = !ok || delta.map(math.abs).max <= 1e-12 * betaScale
          it += 1
        }
        beta
      } finally xy.unpersist(blocking = false)
      // M12 columnar score-back: at threshold 0.5 the binary decision is
      // exactly `margin > 0`, a pure codegen'd expression over the cached
      // input (no per-row ML vector conversion).
      val margin = feats.zipWithIndex
        .map { case (f, j) => f * lit(beta(j)) }.reduce(_ + _)
      val rows = input
        .select(col(labelCol).as("label"),
          when(margin > 0.0, 1).otherwise(0).as("prediction"))
        .groupBy("label", "prediction").agg(count(lit(1)).as("cnt"))
      spark.createDataFrame(java.util.Arrays.asList(rows.collect(): _*), rows.schema)
    } finally input.unpersist(blocking = false)
    // M11's "précision": (TP+TN)/N attached alongside the matrix — the
    // same Spark expression as always, evaluated over the (tiny,
    // re-parallelized) confusion so rounding is bit-identical
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    confusion.withColumn("accuracy",
      round(sum(when(col("label") === col("prediction"), col("cnt")).otherwise(0L)).over(wAll)
        .cast("double") / sum(col("cnt")).over(wAll), 6))
  }
}
