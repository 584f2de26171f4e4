package graft

import graft.operators.Sharding
import graft.stats.Stats
import graft.text.BigramLm
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 additions: Mann-Whitney U, bigram-LM cross-entropy, snake-packed
  * balanced shards, per-source WIMBD top-k grams (q191-q194). */
class CorpusShardStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------------------------------------------------- Mann-Whitney U

  test("mann-whitney: disjoint samples give U=0 and a significant z") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val r = Stats.mannWhitneyU(df, "v", "g", "a", "b").collect()(0)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("u_a") == 0.0)
    assert(r.getAs[Double]("u_b") == 9.0)
    // z = (0 − 4.5) / sqrt(9·7/12) = −1.963961 → just past 1.959964
    assert(math.abs(r.getAs[Double]("z") - (-1.963961)) < 1e-6)
    assert(r.getAs[Boolean]("significant"))
  }

  test("mann-whitney: ties use average ranks and the tie-corrected sigma") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L),
      ("b", 2L), ("b", 3L), ("b", 4L)).toDF("g", "v")
    val r = Stats.mannWhitneyU(df, "v", "g", "a", "b").collect()(0)
    // avg ranks: 1→1, 2→3, 3→5, 4→6; R_a = 1+3+3 = 7; U_a = 7−6 = 1
    assert(r.getAs[Double]("u_a") == 1.0)
    assert(r.getAs[Double]("u_b") == 8.0)
    // sigma² = (9/12)·(7 − 24/30) = 4.65
    assert(math.abs(r.getAs[Double]("z") - (-3.5 / math.sqrt(4.65))) < 1e-6)
    assert(!r.getAs[Boolean]("significant"))
  }

  // ------------------------------------------------ bigram cross-entropy

  test("bigram LM: add-1 smoothed per-doc H matches hand computation") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val r = BigramLm.perDocCrossEntropy(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    // c2: (a b)=3, (b a)=1, (b c)=1; c1: a=3, b=2; V=3
    // lp6(a b)=round(ln(4/6)·1e6)=−405465; lp6(b a)=lp6(b c)=−916291
    assert(r(0).getAs[Long]("n_bigrams") == 3L)
    assert(r(0).getAs[Double]("h") == 0.5757) // 1727221/1e6/3
    assert(r(1).getAs[Long]("n_bigrams") == 2L)
    assert(r(1).getAs[Double]("h") == 0.6609) // 1321756/1e6/2
  }

  test("bigram LM: a sub-2-token doc yields (0, 0.0), not a dropped row") {
    val docs = Seq((1L, "solo"), (2L, "x y z")).toDF("doc_id", "text")
    val r = BigramLm.perDocCrossEntropy(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("n_bigrams") == 0L)
    assert(r(0).getAs[Double]("h") == 0.0)
  }

  // ------------------------------------------------------- snake shards

  test("snake shards: 16 rows over 4 shards balance exactly") {
    val df = (1L to 16L).map(i => (i, 17L - i)).toDF("id", "w")
    val r = Sharding.snakeShards(df, "id", col("w"), nShards = 4)
    // heaviest row gets rank 1
    assert(r.filter($"id" === 1L).select("rank").as[Long].head() == 1L)
    val sums = r.groupBy("shard").agg(sum("weight").as("tw"))
      .orderBy("shard").select("tw").as[Long].collect()
    assert(sums.toSeq == Seq(34L, 34L, 34L, 34L))
  }

  test("snake shards: uneven count, few buckets — offsets still rank globally") {
    val df = (1L to 10L).map(i => (i, 11L - i)).toDF("id", "w")
    val r = Sharding.snakeShards(df, "id", col("w"), nShards = 4)
    val ranks = r.orderBy("id").select("rank").as[Long].collect()
    assert(ranks.toSeq == (1L to 10L)) // weight desc == id asc here
    val sums = r.groupBy("shard").agg(sum("weight").as("tw"))
      .orderBy("shard").select("tw").as[Long].collect()
    assert(sums.toSeq == Seq(15L, 14L, 13L, 13L))
  }

  test("snake shards: duplicate weights break ties by id, ranks stay dense") {
    val df = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 1L)).toDF("id", "w")
    val r = Sharding.snakeShards(df, "id", col("w"), nShards = 2)
    val byId = r.orderBy("id").select("rank").as[Long].collect()
    assert(byId.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  // ------------------------------------------------------- WIMBD top-k

  test("wimbd query: per-source trigram counts rank with lexicographic ties") {
    val docs = Seq(
      (1L, "x y z x y z x y", "s1"),   // 'x y z'×2, 'y z x'×2, 'z x y'×2
      (2L, "a b c", "s2"))
      .toDF("doc_id", "text", "source")
    docs.createOrReplaceTempView("__wimbd_docs")
    val toks = docs.select(col("source"),
      graft.text.Text.tokens(col("text")).as("__toks"))
    val counts = toks.select(col("source"),
      explode(graft.text.Text.ngramsFromTokens(col("__toks"), 3)).as("gram"))
      .groupBy("source", "gram").agg(count(lit(1)).as("cnt"))
    val top = graft.operators.Rankings.topKPerGroup(counts,
      Seq(col("source")), Seq(col("cnt").desc, col("gram").asc), 2)
      .orderBy("source", "gram").collect()
    val s1 = top.filter(_.getString(0) == "s1").map(r => (r.getString(1), r.getLong(2)))
    assert(s1.toSeq == Seq(("x y z", 2L), ("y z x", 2L))) // ties → lexicographic
    val s2 = top.filter(_.getString(0) == "s2").map(_.getString(1))
    assert(s2.toSeq == Seq("a b c"))
  }

  // ---------------------------------------------- sketch overlap / eval

  test("sketch overlap: exact counts correct and the union bound holds") {
    val docs = Seq(
      (1L, "a b c d e f", "s1"),   // grams: abc bcd cde def
      (2L, "c d e f g h", "s2"))   // grams: cde def efg fgh — shares 2
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sko").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Queries.queries("q204_sketch_overlap")(spark, tmp).collect()(0)
    assert(r.getAs[Long]("na") == 4L && r.getAs[Long]("nb") == 4L)
    assert(r.getAs[Long]("inter") == 2L && r.getAs[Long]("uni") == 6L)
    assert(r.getAs[Boolean]("est_union_ok")) // HLL exact at this cardinality
  }

  test("minhash eval: confusion matrix is consistent on the sf0.001 corpus") {
    val r = Queries.queries("q205_minhash_eval")(spark, TestSpark.sf0001)
      .collect()(0)
    val (tp, fp, fn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))
    assert(tp + fn > 0, "ground truth must be non-empty at sf0.001")
    val prec = r.getAs[Double]("prec")
    val rec = r.getAs[Double]("rec")
    assert(prec >= 0.0 && prec <= 1.0 && rec >= 0.0 && rec <= 1.0)
    // P/R must equal their integer definitions
    assert(prec == BigDecimal(tp.toDouble / (tp + fp))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(rec == BigDecimal(tp.toDouble / (tp + fn))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  // ---------------------------------------------------- PCA / CV / hashing

  test("pca power iteration: recovers the dominant direction of collinear data") {
    // points on the line x = 4y → rank-1 covariance, eigenvector ∝ (4, 1)
    val emb = Seq(
      (1L, Seq(4f, 1f)), (2L, Seq(-4f, -1f)),
      (3L, Seq(2f, 0.5f)), (4L, Seq(-2f, -0.5f)))
      .toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft_pca").toString
    emb.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val r = Queries.queries("q209_pca_power")(spark, tmp)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(0L) == 1.0)  // max-abs normalized dominant component
    assert(r(1L) == 0.25) // exactly 1/4 of it
  }

  test("cross validation: five folds partition the data; fits are sane") {
    val r = Queries.queries("q210_cross_validation")(spark, TestSpark.sf0001)
      .collect()
    assert(r.length == 5)
    val total = r.map(_.getAs[Long]("n_test")).sum
    r.foreach { row =>
      assert(row.getAs[Long]("n_train") + row.getAs[Long]("n_test") == total)
      assert(row.getAs[Double]("rmse") > 0.0)
    }
    // the synthetic lineitem has ~zero quantity→price correlation (global
    // slope ≈ −20 $/unit, corr ≈ −0.01) — so the CV check is fold
    // STABILITY: five models fit on 80% overlaps must agree closely
    val slopes = r.map(_.getAs[Double]("slope"))
    assert(slopes.max - slopes.min < 500.0,
      s"fold slopes unstable: ${slopes.toSeq}")
  }

  test("feature hashing: counts are preserved and bucketing is deterministic") {
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_fh").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val q = Queries.queries("q211_feature_hashing")
    val r1 = q(spark, tmp).orderBy("bucket").collect()
    val r2 = q(spark, tmp).orderBy("bucket").collect()
    assert(r1.toSeq == r2.toSeq)
    assert(r1.map(_.getAs[Long]("cnt")).sum == 3L)
    assert(r1.forall(x => x.getAs[Long]("bucket") >= 0 && x.getAs[Long]("bucket") < 256))
    assert(r1.length == 2, "a and b land in distinct buckets")
  }

  // ------------------------------------------- classifier / eval / skipping

  test("hash-centroid classifier: confusion rows partition each source") {
    val r = Queries.queries("q212_hash_centroid_classifier")(spark, TestSpark.sf0001)
      .collect()
    val bySrc = r.groupBy(_.getString(0))
    val nDocs = graft.Tables.documents(spark, TestSpark.sf0001).count()
    assert(r.map(_.getAs[Long]("cnt")).sum == nDocs, "every doc classified once")
    bySrc.values.foreach { rows =>
      val fr = rows.map(_.getAs[Double]("frac")).sum
      assert(math.abs(fr - 1.0) < 1e-4, s"fracs must sum to 1, got $fr")
    }
  }

  test("lang-id eval: confusion matrix covers the corpus, fracs sum to 1") {
    val r = Queries.queries("q213_lang_id_eval")(spark, TestSpark.sf0001).collect()
    val nDocs = graft.Tables.documents(spark, TestSpark.sf0001).count()
    assert(r.map(_.getAs[Long]("cnt")).sum == nDocs)
    r.groupBy(_.getString(0)).values.foreach { rows =>
      assert(math.abs(rows.map(_.getAs[Double]("frac")).sum - 1.0) < 1e-4)
    }
  }

  test("file skipping: the date-clustered layout prunes, the natural one can't") {
    val r = Queries.queries("q214_file_skipping")(spark, TestSpark.sf0001)
      .collect().map(x => x.getString(0) -> x).toMap
    val (nat, clu) = (r("natural"), r("clustered"))
    assert(nat.getAs[Long]("rows_matched") == clu.getAs[Long]("rows_matched"))
    assert(clu.getAs[Double]("prune_frac") > nat.getAs[Double]("prune_frac"))
    // value-range files make zonemap ranges disjoint → zero false positives
    assert(clu.getAs[Double]("scan_efficiency") == 1.0)
    assert(clu.getAs[Long]("rows_scanned") == clu.getAs[Long]("rows_matched"))
  }

  // -------------------------------------------------- RRF / lateness

  test("hybrid RRF: 10 fused results, probe excluded, scores valid and sorted") {
    val r = Queries.queries("q215_hybrid_rrf")(spark, TestSpark.sf0001).collect()
    assert(r.length == 10)
    assert(r.forall(_.getLong(0) != 0L), "probe doc must not retrieve itself")
    val scores = r.map(_.getAs[Double]("rrf"))
    assert(scores.sameElements(scores.sortBy(-_)), "output sorted by rrf desc")
    // bounded by both-lists-rank-1: 2/61
    assert(scores.forall(s => s > 0.0 && s <= 2.0 / 61 + 1e-9))
  }

  test("lateness audit: two-phase running max equals the naive global window") {
    val ev = graft.Tables.events(spark, TestSpark.sf0001)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("tsu"))
      .withColumn("arr", col("tsu") +
        (conv(substring(md5(concat(lit("arr_"), col("event_id"))), 1, 8),
          16, 10).cast("long") % 3600000000L) - 1800000000L)
    val w = org.apache.spark.sql.expressions.Window.orderBy("arr", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val naive = ev.withColumn("rm", max(col("tsu")).over(w))
      .withColumn("late", col("rm").isNotNull && col("tsu") < col("rm") - 600000000L)
      .groupBy("event_type").agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        expr("coalesce(max(CASE WHEN late THEN rm - 600000000 - tsu END) DIV 1000000, 0)")
          .as("max_late_s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = Queries.queries("q216_lateness_audit")(spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == naive)
    assert(got.values.map(_._2).sum > 0L, "some events should be watermark-late")
  }

  // ----------------------------------------------------------- DP noise

  test("dp counts: Laplace noise is deterministic, nonzero, and bounded") {
    val q = Queries.queries("q207_dp_counts")
    val r1 = q(spark, TestSpark.sf0001).orderBy("source").collect()
    val r2 = q(spark, TestSpark.sf0001).orderBy("source").collect()
    assert(r1.toSeq == r2.toSeq, "noise must be seed-deterministic")
    r1.foreach { row =>
      val noise = row.getAs[Double]("noisy_docs") - row.getAs[Long]("n_docs")
      assert(noise != 0.0, s"${row.getString(0)}: zero noise is astronomically unlikely")
      assert(math.abs(noise) < 25.0, // P(|Laplace(1)| > 25) = e^-25
        s"${row.getString(0)}: |noise| = ${math.abs(noise)}")
    }
  }

  // -------------------------------------------------------------- HITS

  test("hits: bipartite toy graph matches hand-run max-normalized iteration") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val r = graft.graph.Hits.iterate(edges, iters = 2)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(2)).toMap
    // a1: 10→1.0, 11→0.5; h1: 1→1.0, 2→0.66666667
    // a2: 10→1.0, 11→0.6;  h2: 1→1.0, 2→0.625
    assert(r(("hub", 1L)) == 1.0)
    assert(r(("hub", 2L)) == 0.625)
    assert(r(("auth", 10L)) == 1.0)
    assert(r(("auth", 11L)) == 0.6)
  }

  test("hits: broadcast-auth and dst-checkpoint gate paths agree; dedup absorbs duplicate edges") {
    // duplicate edge exercises the exchange-free dedup after repartition
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 10L))
      .toDF("src", "dst")
    def run(): Seq[((String, Long), Double)] =
      graft.graph.Hits.iterate(edges, iters = 2)
        .collect().map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(2))
        .toSeq.sortBy(_._1)
    val viaBroadcast = run() // tiny |dst| → under the default 256 MB gate
    val key = "spark.graft.graph.broadcastMaxBytes"
    spark.conf.set(key, "0") // force the second-edge-checkpoint path
    try {
      val viaEDst = run()
      assert(viaBroadcast == viaEDst,
        "the byte gate must be a strategy choice, never a value change")
    } finally spark.conf.unset(key)
    // duplicate (2,10) must not double 2's contribution: same fixture as
    // the hand-run test above
    val m = viaBroadcast.toMap
    assert(m(("hub", 2L)) == 0.625)
    assert(m(("auth", 11L)) == 0.6)
  }

  // ------------------------------------------------------ char entropy

  test("char entropy: skewed and uniform docs match hand computation") {
    val docs = Seq((1L, "aab"), (2L, "abc")).toDF("doc_id", "text")
    val q = Queries.queries("q195_char_entropy")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ce").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = q(spark, tmp).orderBy("doc_id").collect()
    // doc1: n=3, s6 = round(2·ln2·1e6) = 1386294 → H = ln3 − 1.386294/3
    assert(r(0).getAs[Long]("n_chars") == 3L)
    assert(r(0).getAs[Double]("h") == 0.6365)
    // doc2: all-distinct → H = ln 3
    assert(r(1).getAs[Double]("h") == 1.0986)
  }

  // ------------------------------------------------- Simpson diversity

  test("simpson diversity: exact integer ratio on a tiny corpus") {
    val docs = Seq((1L, "a a b", "s1"), (2L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
    val wc = docs.select(col("source"),
        explode(graft.text.Text.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val r = wc.groupBy("source").agg(
        sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("c") * (col("c") - 1)).as("ss"))
      .select(col("source"),
        round(lit(1.0) - col("ss").cast("double") /
          (col("n_tokens").cast("double") * (col("n_tokens") - 1)), 6)
          .as("simpson"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("s1") == 0.666667) // 1 − 2/(3·2)
    assert(r("s2") == 1.0)      // all-distinct
  }

  // --------------------------------------------------------- source JSD

  test("source JSD: hand-computed pair; identical distributions give 0") {
    val docs = Seq(
      (1L, "a a b", "s1"), (2L, "a c c c", "s2"),
      (3L, "x y", "s3"), (4L, "x y", "s4"))
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsd").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Queries.queries("q198_source_jsd")(spark, tmp)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2)).toMap
    // s1 vs s2 share only 'a': sh = 2/3·ln(16/11) + 1/4·ln(6/11);
    // exclusive mass (1/3 + 3/4)·ln2 → jsd ≈ 0.4246
    assert(math.abs(r(("s1", "s2")) - 0.4246) < 2e-4)
    assert(r(("s3", "s4")) == 0.0)
    // bounded by ln 2
    assert(r.values.forall(v => v >= 0.0 && v <= 0.6932))
  }

  // ---------------------------------------------------------- KN bigram

  test("kneser-ney: hand-computed continuation smoothing on a toy corpus") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val r = graft.text.BigramLm.knPerDocCrossEntropy(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    // P(a b) = (3−.75)/3 + .75·(1/3)·(1/3) = 0.8333333 → lp6 = −182322
    // P(b a) = P(b c) = (1−.75)/2 + .75·(2/2)·(1/3) = 0.375 → −980829
    assert(r(0).getAs[Long]("n_bigrams") == 3L)
    assert(r(0).getAs[Double]("h_kn") == 0.4485) // 1345473/1e6/3
    assert(r(1).getAs[Double]("h_kn") == 0.5816) // 1163151/1e6/2
  }

  // ----------------------------------------------------- link prediction

  test("link prediction: jaccard over common neighbors, minCommon prunes") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val r = graft.graph.LinkPrediction.jaccardPairs(edges, minCommon = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    assert(r.size == 2)
    assert(r((1L, 4L)) == (2L, 1.0)) // Γ(1)=Γ(4)={2,3}
    assert(r((2L, 3L)) == (2L, 0.5)) // {1,4} / ({1,3,4}∪{1,2,4})
  }

  test("link prediction: the hub-degree apex cap drops capped wedges only") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val r = graft.graph.LinkPrediction
      .jaccardPairs(edges, minCommon = 2, maxDegree = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    // only apexes 1 and 4 (deg 2) survive; both wedge to the pair (2,3);
    // the denominator still uses FULL degrees
    assert(r.keySet == Set((2L, 3L)))
    assert(r((2L, 3L)) == (2L, 0.5))
  }
}
