package graft

import graft.dedup.SemDedup
import graft.operators.TrainingShuffle
import graft.stats.Stats
import graft.text.Decontaminate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 curation operators: decontamination, SemDeDup, ORC round-trip,
  * deterministic training shuffle, MAD outliers. */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------ ORC

  test("ORC round-trip preserves the documents relation exactly") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val dir = s"/tmp/graft-test-orc-${System.nanoTime()}"
    graft.io.Orc.write(docs, dir)
    val back = graft.io.Orc.read(spark, dir, docs.schema)
      .select(docs.columns.map(col): _*)
    assert(back.schema == docs.select(docs.columns.map(col): _*).schema)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  // ------------------------------------------------- training shuffle

  test("shuffle ranks are a permutation of 1..n and equal the naive global window") {
    val ids = (1L to 500L).toDF("id")
    val ranked = TrainingShuffle.shuffleRank(ids, "id", seed = "s1")
    val got = ranked.select("id", "shuffle_rank").as[(Long, Long)].collect().toMap
    assert(got.values.toSeq.sorted == (1L to 500L).toSeq)
    val naive = ids
      .withColumn("shuffle_rank",
        row_number().over(Window.orderBy(
          TrainingShuffle.shuffleKey(col("id"), "s1"), col("id"))).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got == naive)
  }

  test("different seeds give different permutations; same seed is stable") {
    val ids = (1L to 200L).toDF("id")
    def ranks(seed: String) =
      TrainingShuffle.shuffleRank(ids, "id", seed)
        .as[(Long, Long)].collect().toMap
    assert(ranks("epoch1") == ranks("epoch1"))
    assert(ranks("epoch1") != ranks("epoch2"))
  }

  // -------------------------------------------------- decontamination

  test("decontamination counts distinct shared 3-grams; clean and short docs unflagged") {
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("id", "text")
    val corpus = Seq(
      // shares "the quick brown" and "quick brown fox" -> 2 distinct grams
      (1L, "so the quick brown fox ran"),
      // repeats the same contaminated gram; distinct count stays 1
      (2L, "the quick brown x the quick brown"),
      (3L, "entirely different words here"),
      (4L, "fox jumps")) // < 3 tokens: no grams, never contaminated
      .toDF("id", "text")
    val out = Decontaminate.flagContaminated(corpus, eval, "id", "text", k = 3)
      .select("id", "shared_grams", "contaminated")
      .as[(Long, Long, Long)].collect().toMap2
    assert(out == Map(1L -> ((2L, 1L)), 2L -> ((1L, 1L)),
      3L -> ((0L, 0L)), 4L -> ((0L, 0L))))
  }

  implicit class Tup3Ops(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long)] =
      rows.map { case (a, b, c) => a -> ((b, c)) }.toMap
  }

  // --------------------------------------------------------- SemDeDup

  test("SemDeDup drops the higher-id member of an identical pair, keeps singles") {
    // deterministic grid blobs: within-blob cosine tops out at
    // (100+72)/(√164·√181) ≈ 0.9984 — safely under the threshold — while
    // the injected exact copy has cosine exactly 1.0
    val base = (0 until 10).map(i => (i.toLong, Seq(10.0, i.toDouble, 0.0))) ++
      (10 until 20).map(i => (i.toLong, Seq((i - 10).toDouble, 10.0, 0.0)))
    val df = (base :+ ((99L, base(3)._2))) // exact copy of id 3, higher id
      .toDF("vec_id", "embedding")
    val out = SemDedup.semDedup(df, "vec_id", "embedding",
        k = 2, trainIters = 3, threshold = 0.9999)
      .as[(Long, Long, Long)].collect().toMap2
    assert(out(99L)._2 == 0L, "exact duplicate must be dropped")
    assert(out(3L)._2 == 1L, "lowest-id original survives")
    assert(out.size == 21)
    // identical vectors land in the same cluster
    assert(out(99L)._1 == out(3L)._1)
    // nothing else is a near-duplicate at this threshold
    assert(out.count(_._2._2 == 0L) == 1)
  }

  test("SemDeDup keeps everything when the threshold is unreachable") {
    val df = (0 until 12).map(i => (i.toLong, Seq(i + 1.0, 2.0, 3.0)))
      .toDF("vec_id", "embedding")
    val out = SemDedup.semDedup(df, "vec_id", "embedding",
        k = 2, trainIters = 2, threshold = 1.5)
      .as[(Long, Long, Long)].collect()
    assert(out.forall(_._3 == 1L))
  }

  test("SemDeDup on a repeated id: one row per (id, cluster), copies never flag each other") {
    // ids 3 and 5 appear twice; the copies of 3 are identical, those of 5
    // differ. A single cluster (k = 1) puts every copy together.
    val df = Seq((1L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)), (3L, Seq(0.0, 1.0)),
      (5L, Seq(1.0, 0.0)), (5L, Seq(1.0, 1.0)), (7L, Seq(-1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = SemDedup.semDedup(df, "vec_id", "embedding",
        k = 1, trainIters = 2, threshold = 0.9999)
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 3L, 5L, 7L), out.toSeq)
    val kept = out.map(r => r._1 -> r._3).toMap
    // 3's identical copies do not drop each other; 5 has a copy equal to 1
    assert(kept == Map(1L -> 1L, 3L -> 1L, 5L -> 0L, 7L -> 1L), kept)
  }

  // ---------------------------------------------- chunking / split / gate

  test("sliding-window chunks cover every token, stride 30, len <= 50, gap-free") {
    val out = Queries.queries("q112_chunk_overlap")(spark, TestSpark.sf0001)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    val n = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), graft.text.Text.tokenCount(col("text")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(out.nonEmpty)
    out.foreach { case (id, chunks) =>
      chunks.zipWithIndex.foreach { case ((_, cid, start, len), i) =>
        assert(cid == i && start == 30L * i, s"doc $id chunk grid broken")
        assert(len >= 1 && len <= 50, s"doc $id chunk len $len")
      }
      val (_, _, lastStart, lastLen) = chunks.last
      assert(lastStart + lastLen == n(id), s"doc $id tail not covered")
      // consecutive chunks overlap by 20 tokens except possibly the tail
      chunks.sliding(2).foreach {
        case Array((_, _, s1, l1), (_, _, s2, _)) =>
          assert(s2 < s1 + l1, s"doc $id gap between chunks at $s2")
        case _ =>
      }
    }
  }

  test("stratified split: exact floor-based 80/10/10 per stratum, deterministic") {
    val run1 = Queries.queries("q113_stratified_split")(spark, TestSpark.sf0001)
      .as[(Long, String, String)].collect().toSet
    val run2 = Queries.queries("q113_stratified_split")(spark, TestSpark.sf0001)
      .as[(Long, String, String)].collect().toSet
    assert(run1 == run2 && run1.nonEmpty)
    run1.groupBy(_._2).foreach { case (lang, rows) =>
      val n = rows.size
      val byS = rows.groupBy(_._3).view.mapValues(_.size).toMap
      assert(byS.getOrElse("train", 0) == n * 8 / 10, s"$lang train")
      assert(byS.getOrElse("val", 0) == n * 9 / 10 - n * 8 / 10, s"$lang val")
      assert(byS.getOrElse("test", 0) == n - n * 9 / 10, s"$lang test")
    }
  }

  test("incremental dedup admits the novel batch and rejects every injected copy") {
    val admitted = Queries.queries("q114_incremental_dedup")(spark, TestSpark.sf0001)
      .as[Long].collect().toSet
    val all = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id").as[Long].collect().toSet
    val expected = all.filter(_ % 10 == 7)
    assert(admitted == expected, "novel docs admitted, injected copies (+100000) rejected")
  }

  // ------------------------------------- vocab / OOV / postings

  test("vocab: dense 1..V ids, frequency-sorted, counts match a brute recount") {
    val vocab = Queries.queries("q116_vocab")(spark, TestSpark.sf0001)
      .as[(String, Long, Long)].collect().sortBy(_._3)
    assert(vocab.nonEmpty && vocab.map(_._3).toSeq == (1L to vocab.length).toSeq)
    assert(vocab.sliding(2).forall {
      case Array((t1, f1, _), (t2, f2, _)) => f1 > f2 || (f1 == f2 && t1 < t2)
      case _ => true
    }, "rank order must be (freq desc, token asc)")
    val brute = Tables.documents(spark, TestSpark.sf0001)
      .select(col("text")).as[String].collect()
      .flatMap(_.split(" ")).groupBy(identity).view.mapValues(_.length.toLong).toMap
    vocab.foreach { case (t, f, _) => assert(brute(t) == f, s"freq of '$t'") }
  }

  test("OOV rate equals a driver-side brute-force recount on every doc") {
    val got = Queries.queries("q117_oov_rate")(spark, TestSpark.sf0001)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, o, r) => id -> ((n, o, r)) }.toMap
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val freq = docs.flatMap(_._2.split(" "))
      .groupBy(identity).view.mapValues(_.length).toMap
    val vocab = freq.toSeq.sortBy { case (t, f) => (-f, t) }.take(16).map(_._1).toSet
    docs.foreach { case (id, text) =>
      val toks = text.split(" ")
      val oov = toks.count(!vocab.contains(_))
      val (n, o, r) = got(id)
      assert(n == toks.length && o == oov, s"doc $id counts")
      assert(math.abs(r - oov.toDouble / toks.length) < 1e-6, s"doc $id rate")
    }
  }

  test("postings reassemble every document in position order") {
    val postings = Queries.queries("q118_postings")(spark, TestSpark.sf0001)
      .as[(String, Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.sortBy(_._3).map(_._1).mkString(" ")).toMap
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(postings.keySet == docs.keySet)
    postings.foreach { case (id, rebuilt) =>
      assert(rebuilt == docs(id), s"doc $id reassembly") }
  }

  // ------------------------------------------------------ MAD outliers

  test("MAD outliers: hand-computed median/MAD, flag only beyond cutoff*MAD") {
    // group g: values 1..9 plus 100 -> med 5.5, adevs {4.5,3.5,...,0.5,94.5},
    // mad = median({0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,94.5}) = 2.5,
    // cutoff 3 -> |x-med| > 7.5 flags only x=100
    val df = ((1 to 9).map(v => ("g", v.toLong)) :+ (("g", 100L)))
      .toDF("grp", "v")
    val out = Stats.madOutliers(df, Seq("grp"), "v", cutoff = 3.0)
      .select("v", "med", "mad", "is_outlier")
      .as[(Long, Double, Double, Long)].collect()
    assert(out.forall { case (_, med, mad, _) => med == 5.5 && mad == 2.5 })
    assert(out.filter(_._4 == 1L).map(_._1).toSeq == Seq(100L))
  }

  test("MAD outliers: a singleton group has mad 0 and is never flagged") {
    val df = Seq(("a", 7L), ("b", 1L), ("b", 2L), ("b", 3L)).toDF("grp", "v")
    val out = Stats.madOutliers(df, Seq("grp"), "v")
      .select("grp", "is_outlier").as[(String, Long)].collect()
    assert(out.forall(_._2 == 0L))
  }

  test("bigram PMI matches a driver-side recount with the same formula") {
    val out = Queries.queries("q150_bigram_pmi")(spark, TestSpark.sf0001)
      .select("w1", "w2", "cxy", "pmi")
      .as[(String, String, Long, Double)].collect()
    assert(out.nonEmpty && out.forall(_._3 >= 5))
    // independent recount: driver-side token stream over the same corpus
    val texts = Tables.documents(spark, TestSpark.sf0001)
      .select("text").as[String].collect()
    val tokens = texts.map(_.split(" ", -1).toSeq)
    val uni = tokens.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val big = tokens.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nt = uni.values.sum.toDouble
    val nb = big.values.sum.toDouble
    out.foreach { case (w1, w2, cxy, pmi) =>
      assert(big((w1, w2)) == cxy, s"count mismatch for ($w1,$w2)")
      val want = math.log(cxy.toDouble) + 2.0 * math.log(nt) -
        math.log(nb) - math.log(uni(w1).toDouble) - math.log(uni(w2).toDouble)
      assert(math.abs(pmi - want) < 1e-3, s"pmi($w1,$w2) $pmi != $want")
    }
    // the result is exactly the top-100 of the recount's eligible pairs
    val eligible = big.collect { case ((a, b), c) if c >= 5 =>
      val p = math.log(c.toDouble) + 2.0 * math.log(nt) - math.log(nb) -
        math.log(uni(a).toDouble) - math.log(uni(b).toDouble)
      (BigDecimal(p).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, a, b)
    }.toSeq.sortBy { case (p, a, b) => (-p, a, b) }.take(100)
    val gotOrdered = out.map(r => (r._4, r._1, r._2)).toSeq
    assert(gotOrdered.sortBy { case (p, a, b) => (-p, a, b) } == eligible)
  }
}
