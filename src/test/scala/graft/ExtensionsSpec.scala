package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's custom expressions exposed to pure-SQL users via
  * SparkSessionExtensions (spark.sql.extensions=graft.GraftExtensions). */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("title_case available in SQL") {
    val r = spark.sql("SELECT title_case('jean-pierre') AS t").as[String].first()
    assert(r == "Jean-Pierre")
  }

  test("nfc_normalize composes decomposed graphemes (SQL and Column API)") {
    // "cafe" + U+0301 (combining acute) must compose to U+00E9; ß stays.
    val decomposed = "cafe\u0301 stra\u00dfe"
    val composed = "caf\u00e9 stra\u00dfe"
    assert(decomposed != composed && decomposed.length == composed.length + 1)
    val sql = spark.sql(s"SELECT nfc_normalize('$decomposed') AS t").as[String].first()
    assert(sql == composed)
    val api = Seq(decomposed).toDF("t")
      .select(graft.functions.NfcNormalize($"t")).as[String].first()
    assert(api == composed)
    // already-NFC input passes through unchanged (the short-circuit path)
    val stable = spark.sql(s"SELECT nfc_normalize('$composed') AS t").as[String].first()
    assert(stable == composed)
  }

  test("simhash64 available in SQL and equals the Column API") {
    val sql = spark.sql("SELECT simhash64(split('a b c', ' ')) AS h").as[Long].first()
    val api = Seq("a b c").toDF("t")
      .select(graft.dedup.Dedup.simHash(graft.text.Text.tokens($"t"))).as[Long].first()
    assert(sql == api)
  }

  test("minhash_sig available in SQL with literal k/n") {
    val r = spark.sql("SELECT minhash_sig(split('a b c d e', ' '), 3, 4) AS s")
      .as[Seq[Long]].first()
    assert(r.length == 4)
  }

  test("simhash64_md5 available in SQL and equals the Column API") {
    val sql = spark.sql("SELECT simhash64_md5(split('a b c', ' ')) AS h").as[Long].first()
    val api = Seq("a b c").toDF("t")
      .select(graft.dedup.Dedup.simHash(graft.text.Text.tokens($"t"), "md5p61"))
      .as[Long].first()
    assert(sql == api)
  }

  test("minhash_sig_p61 available in SQL, values in [0, 2^61)") {
    val r = spark.sql("SELECT minhash_sig_p61(split('a b c d e', ' '), 3, 4) AS s")
      .as[Seq[Long]].first()
    assert(r.length == 4 &&
      r.forall(v => v >= 0 && v < graft.functions.OracleHash.P61))
  }

  test("title_case stays inside whole-stage codegen (no fallback project)") {
    // non-literal input (parquet scan) so the expression isn't constant-folded
    val df = Tables.nation(spark, TestSpark.sf0001)
      .select(graft.functions.TitleCase($"n_name").as("t"))
    // the `*(n)` prefix marks operators fused into a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [title_case"), plan)
    assert(df.as[String].collect().forall(_.startsWith("Nation_")))
  }

  test("winnow_fingerprint_p61 available in SQL and equals the Column API") {
    val sql = spark.sql(
      "SELECT winnow_fingerprint_p61(split('a b c d e f g h', ' '), 3, 4) AS f")
      .as[Seq[Long]].first()
    val api = Seq("a b c d e f g h").toDF("t")
      .select(graft.functions.WinnowFingerprintP61(
        graft.text.Text.tokens($"t"), 3, 4).as("f"))
      .as[Seq[Long]].first()
    assert(sql == api && sql.nonEmpty)
  }

  test("arg_min_by aggregate available in SQL") {
    val r = spark.sql(
      """SELECT arg_min_by(name, dist, id) AS nearest FROM VALUES
        | ('far', 9.0, 1L), ('near', 1.0, 2L), ('tie', 1.0, 3L) AS t(name, dist, id)
      """.stripMargin).as[String].first()
    assert(r == "near") // dist tie broken by lower id
  }

  test("lambert93_to_wgs84 available in SQL and equals the Column API") {
    // the EPSG:2154 false origin reprojects to the projection origin
    // (3°E, 46.5°N); SQL and Column paths must agree bit-for-bit since the
    // builder calls the same Lambert93 column functions (DECIMAL literals
    // cast to DOUBLE on the way in)
    val sql = spark.sql(
      "SELECT lambert93_to_wgs84(700000.0, 6600000.0) AS ll")
      .select("ll.lon", "ll.lat").as[(Double, Double)].first()
    assert(math.abs(sql._1 - 3.0) < 1e-9 && math.abs(sql._2 - 46.5) < 1e-9)
    val api = Seq((700000.0, 6600000.0)).toDF("x", "y")
      .select(graft.functions.Lambert93.lonDeg($"x", $"y"),
        graft.functions.Lambert93.latDeg($"x", $"y"))
      .as[(Double, Double)].first()
    assert(sql == api)
  }

  test("dot_d and norm_d available in SQL") {
    val r = spark.sql(
      """SELECT dot_d(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d,
        |       norm_d(array(3.0D, 4.0D)) AS n""".stripMargin)
      .as[(Double, Double)].first()
    assert(r == ((32.0, 5.0)))
  }

  test("q76 SQL-surface reprojection equals the q28 DataFrame form") {
    val sf = TestSpark.sf0001
    val viaSql = Queries.queries("q76_lambert93_sql")(spark, sf)
    val viaDf = Queries.queries("q28_lambert93")(spark, sf)
    assert(viaSql.schema.fieldNames.toSeq == viaDf.schema.fieldNames.toSeq)
    assert(viaSql.exceptAll(viaDf).isEmpty && viaDf.exceptAll(viaSql).isEmpty)
  }

  test("jaro_winkler matches the textbook vectors and DuckDB semantics") {
    import graft.functions.JaroWinklerUtil.{jaroWinkler => jw}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(close(jw(u("MARTHA"), u("MARHTA")), 0.9611111111111111))
    assert(close(jw(u("DIXON"), u("DICKSONX")), 0.8133333333333332))
    assert(close(jw(u("JELLYFISH"), u("SMELLYFISH")), 0.8962962962962964))
    assert(close(jw(u("CRATE"), u("TRACE")), 0.7333333333333334))
    assert(close(jw(u("ab"), u("a")), 0.8500000000000001))
    // boost suppressed at jaro <= 0.7 (DuckDB behavior)
    assert(close(jw(u("AB"), u("AC")), 0.6666666666666666))
    assert(close(jw(u("ABCDEF"), u("ABXXXX")), 0.5555555555555555))
    // odd transposition count uses integer t/2 (DuckDB behavior)
    assert(close(jw(u("ABCDEF"), u("BCADEF")),
      0.9444444444444445 + 0.0))
    assert(jw(u(""), u("ABC")) == 0.0 && jw(u("A"), u("B")) == 0.0)
    assert(jw(u("same"), u("same")) == 1.0)
    // symmetry
    assert(jw(u("DWAYNE"), u("DUANE")) == jw(u("DUANE"), u("DWAYNE")))
  }

  test("jaro_winkler available in SQL and stays inside codegen") {
    import spark.implicits._
    val r = spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS s")
      .as[Double].first()
    assert(math.abs(r - 0.9611111111111111) < 1e-12)
    // non-literal input (parquet scan) so the expression isn't constant-folded
    val df = Tables.nation(spark, TestSpark.sf0001)
      .select(graft.functions.JaroWinkler($"n_name", $"n_name").as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [jaro_winkler"), plan)
    assert(df.as[Double].collect().forall(_ == 1.0))
  }
}
