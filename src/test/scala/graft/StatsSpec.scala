package graft

import graft.stats.Stats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // The 2×2 fixture's (chi2_stat, p_value) as the countDistinct-based dof
  // computed them, pinned to the bit.
  private val CHI2_2X2 = 0.7936507936507936
  private val P_2X2 = 0.37299848361348664

  test("chiSquare matches the hand-computed statistic on a 2x2 table") {
    // table: a/x=10, a/y=20, b/x=30, b/y=40  (classic textbook example)
    val rows = Seq.fill(10)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(30)(("b", "x")) ++ Seq.fill(40)(("b", "y"))
    val df = rows.toDF("u", "v")
    val r = Stats.chiSquare(df, "u", "v").first()
    // expected: n=100, rm={a:30,b:70}, cm={x:40,y:60}
    // exp = 12,18,28,42; chi2 = 4/12+4/18+4/28+4/42 = 0.79365...
    assert(math.abs(r.getDouble(0) - (4.0 / 12 + 4.0 / 18 + 4.0 / 28 + 4.0 / 42)) < 1e-12)
    assert(r.getLong(1) == 1L)
  }

  test("chiSquare: dof equals (distinct rows − 1)·(distinct cols − 1), chi2 and p unchanged") {
    def dof(df: org.apache.spark.sql.DataFrame): Long = {
      val out = Stats.chiSquare(df, "u", "v")
      assert(out.schema("dof").dataType == org.apache.spark.sql.types.LongType)
      out.first().getLong(1)
    }
    def distinctDof(df: org.apache.spark.sql.DataFrame): Long = {
      val r = df.agg(countDistinct("u"), countDistinct("v")).first()
      (r.getLong(0) - 1) * (r.getLong(1) - 1)
    }
    // a null category is a contingency cell but not a level (countDistinct
    // ignores nulls): 3 levels of u, 2 of v → dof 2
    val withNull = Seq[(String, String)](("a", "x"), ("b", "y"), ("c", "x"), (null, "y"),
      ("a", "y"), (null, "x")).toDF("u", "v")
    assert(dof(withNull) == 2L && dof(withNull) == distinctDof(withNull))
    // a single-level column has no freedom
    val single = Seq(("a", "x"), ("a", "y"), ("a", "x")).toDF("u", "v")
    assert(dof(single) == 0L && dof(single) == distinctDof(single))
    // empty input: (0 − 1)·(0 − 1), as countDistinct gives
    val empty = Seq.empty[(String, String)].toDF("u", "v")
    assert(dof(empty) == 1L && dof(empty) == distinctDof(empty))
    // the 2×2 fixture keeps the statistic and p-value it had with
    // countDistinct
    val rows = Seq.fill(10)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(30)(("b", "x")) ++ Seq.fill(40)(("b", "y"))
    val r = Stats.chiSquare(rows.toDF("u", "v"), "u", "v").first()
    assert(r.getDouble(0) == CHI2_2X2 && r.getLong(1) == 1L && r.getDouble(2) == P_2X2)
  }

  test("anova matches hand-computed F on a small fixture") {
    // g1: 1,2,3 (m=2, var=1) ; g2: 5,6,7 (m=6, var=1); grand mean 4, k=2, n=6
    // SSB = 3*(2-4)^2 + 3*(6-4)^2 = 24, msb = 24/1 = 24
    // SSW = 2*1 + 2*1 = 4, msw = 4/4 = 1 → F = 24
    val df = Seq(("g1", 1.0), ("g1", 2.0), ("g1", 3.0),
      ("g2", 5.0), ("g2", 6.0), ("g2", 7.0)).toDF("g", "v")
    val r = Stats.anova(df, "v", "g").first()
    assert(math.abs(r.getAs[Double]("ms_between") - 24.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("ms_within") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("f_stat") - 24.0) < 1e-9)
  }

  test("corrPairs: perfectly correlated columns → corr 1, cov = var") {
    val df = (1 to 10).map(i => (i.toDouble, 2.0 * i)).toDF("a", "b")
    val r = Stats.corrPairs(df, Seq("a" -> "b")).first()
    assert(math.abs(r.getAs[Double]("corr_a_b") - 1.0) < 1e-12)
    // cov(a, 2a) = 2*var(a); var_samp(1..10) = 55/6
    assert(math.abs(r.getAs[Double]("cov_a_b") - 2 * 55.0 / 6) < 1e-9)
  }

  test("quantiles: exact percentile interpolation matches R type-7/SQL semantics") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val r = df.agg(Stats.quantiles(df, "v", Seq(0.25, 0.5, 0.75)).as("q")).first()
    val q = r.getSeq[Double](0)
    assert(q == Seq(1.75, 2.5, 3.25))
  }

  test("approx quantiles track exact within the sketch accuracy bound") {
    val df = Tables.lineitem(spark, TestSpark.sf0001)
    val exact = df.agg(Stats.quantiles(df, "l_quantity", Seq(0.25, 0.5, 0.75)))
      .first().getSeq[Double](0)
    val approx = df.agg(Stats.quantiles(df, "l_quantity", Seq(0.25, 0.5, 0.75),
      approx = true)).first().getSeq[Double](0)
    // accuracy 10000 → rank error <= n/10000; translate to a loose value
    // tolerance on this integer-ish 1..50 domain
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(e - a) <= 1.0, s"approx $a too far from exact $e")
    }
  }

  test("tokenizeRegex splits word/number/punct runs (BPE-ish pre-tokenization)") {
    import graft.text.Text
    val out = Seq("ab12 cd-ef!").toDF("t")
      .select(Text.tokenizeRegex(col("t"))).as[Seq[String]].collect().head
    assert(out == Seq("ab", "12", "cd", "-", "ef", "!"))
  }

  test("q139 power-sum moments match Spark's builtin population aggregates") {
    val got = Queries.queries("q139_moments")(spark, TestSpark.sf0001)
      .select("l_returnflag", "mean", "variance", "skewness", "kurtosis_excess")
      .as[(String, Double, Double, Double, Double)].collect()
    val ref = Tables.lineitem(spark, TestSpark.sf0001).groupBy("l_returnflag")
      .agg(avg(col("l_quantity")).as("m"), var_pop(col("l_quantity")).as("v"),
        skewness(col("l_quantity")).as("sk"), kurtosis(col("l_quantity")).as("ku"))
      .as[(String, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.nonEmpty)
    got.foreach { case (g, m, v, sk, ku) =>
      val r = ref(g)
      assert(math.abs(m - r._2) < 1e-4, s"$g mean")
      assert(math.abs(v - r._3) < 1e-4, s"$g variance")
      assert(math.abs(sk - r._4) < 1e-4, s"$g skewness: $sk vs ${r._4}")
      assert(math.abs(ku - r._5) < 1e-4, s"$g kurtosis: $ku vs ${r._5}")
    }
  }

  test("q140 entropy is in [0, ln k] and zero for single-type users") {
    val out = Queries.queries("q140_type_entropy")(spark, TestSpark.sf0001)
      .select("user_id", "entropy").as[(Long, Double)].collect().toMap
    val k = Tables.events(spark, TestSpark.sf0001)
      .groupBy("user_id").agg(countDistinct(col("event_type")).as("k"))
      .as[(Long, Long)].collect().toMap
    assert(out.nonEmpty && out.keySet == k.keySet)
    out.foreach { case (u, h) =>
      assert(h >= 0.0 && h <= math.log(k(u).toDouble) + 1e-9,
        s"user $u entropy $h outside [0, ln ${k(u)}]")
      if (k(u) == 1L) assert(h == 0.0, s"single-type user $u entropy $h")
    }
  }

  test("q145 Welch t on a hand-computed fixture shape + sf0.001 invariants") {
    // Engine invariants on the real data: sign(t) == sign(mean diff), and
    // Welch df lies in [min(n1,n2)-1, n1+n2-2] (standard bounds).
    val r = Queries.queries("q145_welch_ttest")(spark, TestSpark.sf0001).first()
    val (n1, n2) = (r.getAs[Long]("n_click"), r.getAs[Long]("n_purchase"))
    val t = r.getAs[Double]("t_stat")
    val df = r.getAs[Double]("welch_df")
    val dm = r.getAs[Double]("mean_click") - r.getAs[Double]("mean_purchase")
    assert(math.signum(t) == math.signum(dm) || dm == 0.0)
    assert(df >= math.min(n1, n2) - 1 - 1e-6 && df <= n1 + n2 - 2 + 1e-6,
      s"df $df outside [${math.min(n1, n2) - 1}, ${n1 + n2 - 2}]")
    // Hand fixture via the same formulas: g1 = 1..5 (m=3, v=2.5),
    // g2 = 2,4,..,10 (m=6, v=10). Per-group terms v/n = 0.5 and 2.0, so
    // se² = 2.5, t = -3/√2.5 = -1.8974, df = 6.25/(0.5²/4 + 2²/4) = 5.8824.
    val m1 = 3.0; val v1 = 2.5; val m2 = 6.0; val v2 = 10.0; val n = 5.0
    val se2 = v1 / n + v2 / n
    val tRef = (m1 - m2) / math.sqrt(se2)
    val dfRef = se2 * se2 / ((v1 / n) * (v1 / n) / (n - 1) + (v2 / n) * (v2 / n) / (n - 1))
    assert(math.abs(tRef - -1.8973665961010275) < 1e-12)
    assert(math.abs(dfRef - 5.882352941176471) < 1e-12)
  }

  test("q154 weighted quantiles match a driver-side cumulative-weight scan") {
    val r = Queries.queries("q154_weighted_median")(spark, TestSpark.sf0001).first()
    val rows = Tables.lineitem(spark, TestSpark.sf0001)
      .select(col("l_quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("w"))
      .as[(Double, Long)].collect()
    val byV = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val tot = byV.map(_._2).sum
    def brute(num: Long, den: Long): Double = {
      var cum = 0L
      byV.find { case (_, w) => cum += w; cum * den >= tot * num }.get._1
    }
    assert(r.getAs[Double]("w_p25") == brute(1, 4))
    assert(r.getAs[Double]("w_median") == brute(1, 2))
    assert(r.getAs[Double]("w_p75") == brute(3, 4))
    // ordering sanity
    assert(r.getAs[Double]("w_p25") <= r.getAs[Double]("w_median"))
    assert(r.getAs[Double]("w_median") <= r.getAs[Double]("w_p75"))
  }

  test("q146 PSI terms are non-negative and bins partition both corpora") {
    val out = Queries.queries("q146_psi")(spark, TestSpark.sf0001)
      .select("bin", "cnt_ref", "cnt_cur", "psi_term")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length == 10 && out.map(_._1).sorted.sameElements(0L until 10L))
    // (p-q) and ln(p/q) always share a sign, so every term is >= 0
    out.foreach { case (b, _, _, term) =>
      assert(term >= 0.0, s"bin $b negative PSI term $term") }
    val docs = Tables.documents(spark, TestSpark.sf0001)
    assert(out.map(_._2).sum == docs.filter(col("doc_id") % 2 === 0).count())
    assert(out.map(_._3).sum == docs.filter(col("doc_id") % 2 === 1).count())
  }

  test("q319 energy distance matches the hand-computed 2x2 interleave") {
    // clicks at cents {0, 2}, views at {1, 3}:
    // Sxy = 1+3+1+1 = 6, Sxx = 2*|0-2| = 4, Syy = 2*|1-3| = 4
    // E = 2*6/4 - 4/4 - 4/4 = 1.0 (cents)
    val dir = java.nio.file.Files.createTempDirectory("graft_ed").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, t0, 1L, "click", 0.00), (2L, t0, 1L, "click", 0.02),
        (3L, t0, 2L, "view", 0.01), (4L, t0, 2L, "view", 0.03),
        (5L, t0, 3L, "error", 9.99)) // non-member type must be ignored
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Queries.queries("q319_energy_distance")(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(r.toSeq == Seq((2L, 2L, 1.0)))
  }

  test("q320 log-rank on a two-user fixture hits the closed-form chi2") {
    // user 0 (cohort A) span 1 day, user 1 (cohort B) span 2 days.
    // t=1: n1=1, n2=1, d=1 -> e1 = 0.5, v = 0.25; t=2 has n=1, dropped.
    // chi2 = (1 - 0.5)^2 / 0.25 = 1.0
    val dir = java.nio.file.Files.createTempDirectory("graft_lr").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, ts("2024-01-01 08:00:00"), 0L, "view", 1.0),
        (2L, ts("2024-01-02 08:00:00"), 0L, "view", 1.0),
        (3L, ts("2024-01-01 08:00:00"), 1L, "view", 1.0),
        (4L, ts("2024-01-03 08:00:00"), 1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Queries.queries("q320_logrank_test")(spark, dir)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(r.toSeq == Seq((1L, 1L, 1L, 0.5, 1.0)))
  }

  test("q321 diff-in-diff matches the hand-computed 2x2 cells") {
    // ctrl pre {10,12} post {11,13}; treat pre {20,22} post {30,36}
    // means 11, 12, 21, 33 -> did = (33-21) - (12-11) = 11.0
    // cell variances (cents^2): 20000 x3, 180000; sevar = 120000
    // se = sqrt(120000)/100 = 3.4641; t = 1100/sqrt(120000) = 3.1754
    val dir = java.nio.file.Files.createTempDirectory("graft_did").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val pre = ts("2024-01-10 12:00:00"); val post = ts("2024-01-20 12:00:00")
    Seq((1L, pre, 0L, 10.0), (2L, pre, 0L, 12.0),
        (3L, post, 0L, 11.0), (4L, post, 0L, 13.0),
        (5L, pre, 1L, 20.0), (6L, pre, 1L, 22.0),
        (7L, post, 1L, 30.0), (8L, post, 1L, 36.0))
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Queries.queries("q321_diff_in_diff")(spark, dir)
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(r.toSeq == Seq((2L, 2L, 2L, 2L, 11.0, 3.4641, 3.1754)))
  }

  test("q325 effect sizes hit exact values on a separable 2x3 fixture") {
    // clicks {1,2,3} vs views {4,5,6} dollars, clicks on day 1 / views on
    // day 2: d = (200-500)/100 = -3 (pooled sd exactly 100 cents),
    // V = sqrt(chi2/n) = 1 for the diagonal 2x2, rb = 1 (U_click = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_eff").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val d1 = ts("2024-01-01 10:00:00"); val d2 = ts("2024-01-02 10:00:00")
    Seq((1L, d1, 1L, "click", 1.0), (2L, d1, 1L, "click", 2.0),
        (3L, d1, 1L, "click", 3.0), (4L, d2, 1L, "view", 4.0),
        (5L, d2, 1L, "view", 5.0), (6L, d2, 1L, "view", 6.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Queries.queries("q325_effect_sizes")(spark, dir)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(r.toSeq == Seq((3L, 3L, -3.0, 1.0, 1.0)))
  }

  test("q321 zero-variance cells yield NULL se/t, never NaN or a crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_did0").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val pre = ts("2024-01-10 12:00:00"); val post = ts("2024-01-20 12:00:00")
    Seq((1L, pre, 0L, 5.0), (2L, pre, 0L, 5.0),
        (3L, post, 0L, 5.0), (4L, post, 0L, 5.0),
        (5L, pre, 1L, 5.0), (6L, pre, 1L, 5.0),
        (7L, post, 1L, 9.0), (8L, post, 1L, 9.0))
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Queries.queries("q321_diff_in_diff")(spark, dir).collect()(0)
    assert(r.getAs[Double]("did") == 4.0)
    assert(r.isNullAt(r.fieldIndex("se")) && r.isNullAt(r.fieldIndex("t_stat")))
  }
}
