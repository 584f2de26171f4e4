package graft

import graft.functions.Lambert93
import graft.operators.{Cleaning, Rankings}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5-4), driven by scalacheck
  * generators with fixed seeds (no scalatestplus bridge in the offline
  * cache, so sampling is explicit and deterministic). */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int = 20): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("winsorize bounds: output never exceeds max(threshold, cap)") {
    val gen = Gen.zip(Gen.listOfN(30, Gen.chooseNum(-1e6, 1e6)), Gen.chooseNum(1.0, 1000.0))
    samples(gen, 10).foreach { case (xs, thr) =>
      val out = Cleaning.winsorize(xs.toDF("v"), "v", thr, thr / 2).as[Double].collect()
      assert(out.forall(v => v <= math.max(thr, thr / 2)))
      assert(out.length == xs.length)
    }
  }

  test("normalizeBlanks idempotent; nulls exactly the blank-or-null inputs") {
    val gen = Gen.listOfN(20, Gen.oneOf(Gen.const(""), Gen.const("  "),
      Gen.alphaStr, Gen.const(null: String)))
    samples(gen, 10).foreach { xs =>
      val df = xs.toDF("s")
      val once = Cleaning.normalizeBlanks(df, Seq("s")).as[Option[String]].collect().toSeq
      val twice = Cleaning.normalizeBlanks(
        Cleaning.normalizeBlanks(df, Seq("s")), Seq("s")).as[Option[String]].collect().toSeq
      assert(once == twice)
      assert(once.count(_.isEmpty) == xs.count(x => x == null || x.trim.isEmpty))
    }
  }

  test("dedupKeepFirst: subset, unique keys, minimal order per key") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0L, 1000L)))
    samples(gen, 10).foreach { pairs =>
      val rows = pairs.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
      val out = Cleaning.dedupKeepFirst(rows.toDF("k", "v", "ord"), Seq("k"),
        Seq(col("ord"))).as[(Int, Long, Long)].collect()
      assert(out.toSet.subsetOf(rows.toSet))
      assert(out.map(_._1).distinct.length == out.length)
      val minOrd = rows.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._3).min }
      assert(out.forall(r => r._3 == minOrd(r._1)))
    }
  }

  test("modeFill: never invents categories, fills every null, idempotent") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0, 3),
      Gen.oneOf(Gen.oneOf("a", "b", "c"), Gen.const(null: String))))
    samples(gen, 10).foreach { pairs =>
      val df = pairs.toDF("g", "v")
      val once = graft.operators.Impute.modeFill(df, Seq("g"), "v")
      val out = once.as[(Int, Option[String])].collect()
      val knownPerGroup = pairs.filter(_._2 != null).groupBy(_._1)
        .map { case (g, rs) => g -> rs.map(_._2).toSet }
      // filled values come only from the group's own observed categories;
      // a group with no observed value keeps null (no cross-group leakage)
      out.foreach { case (g, v) =>
        v match {
          case Some(s) => assert(knownPerGroup.getOrElse(g, Set()).contains(s)
            || pairs.contains((g, s)))
          case None => assert(!knownPerGroup.contains(g))
        }
      }
      val twice = graft.operators.Impute.modeFill(once, Seq("g"), "v")
        .as[(Int, Option[String])].collect()
      assert(out.sortBy(r => (r._1, r._2)).toSeq ==
        twice.sortBy(r => (r._1, r._2)).toSeq)
    }
  }

  test("knnImputeExact: imputed values are drawn only from the known side") {
    val gen = Gen.zip(
      Gen.listOfN(8, Gen.zip(Gen.chooseNum(0.0, 1000.0), Gen.chooseNum(0.0, 1000.0))),
      Gen.listOfN(25, Gen.zip(Gen.zip(Gen.chooseNum(0.0, 1000.0),
        Gen.chooseNum(0.0, 1000.0)), Gen.oneOf("q1", "q2", "q3"))))
    samples(gen, 5).foreach { case (missPts, knownPts) =>
      val missing = missPts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("id", "x", "y")
      val known = knownPts.zipWithIndex.map { case (((x, y), q), i) =>
        (1000L + i, x, y, q)
      }.toDF("kid", "x", "y", "q")
      val out = graft.operators.Impute.knnImputeExact(
        missing, known, "x", "y", "id", "kid", Seq("q"))
        .as[(Long, String)].collect()
      assert(out.length == missPts.length) // every missing row resolved
      val cats = knownPts.map(_._2).toSet
      assert(out.forall(r => cats.contains(r._2))) // no invented categories
    }
  }

  test("SortedIntersectSize == size(array_intersect) on random sorted distinct arrays") {
    val arrGen = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      .map(_.distinct.sorted)
    val pairs = samples(Gen.zip(arrGen, arrGen), 40) :+
      ((Nil: List[Long]), (Nil: List[Long])) :+
      ((List(1L, 2L, 3L), List(1L, 2L, 3L)))
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      graft.functions.SortedIntersectSize(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref"))
      .as[(Int, Int)].collect()
    rows.foreach { case (fast, ref) => assert(fast == ref) }
  }

  test("DotProductD / NormD are bit-identical to the HOF folds on random vectors") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-1e6, 1e6))
    val pairs = samples(Gen.zip(vecGen, vecGen), 40)
    val df = pairs.toDF("a", "b")
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val hofNorm = sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x))
    val rows = df.select(
      graft.functions.DotProductD(col("a"), col("b")).as("fd"),
      hofDot.as("rd"),
      graft.functions.NormD(col("a")).as("fn"),
      hofNorm.as("rn"))
      .as[(Double, Double, Double, Double)].collect()
    rows.foreach { case (fd, rd, fn, rn) =>
      assert(java.lang.Double.doubleToRawLongBits(fd) ==
        java.lang.Double.doubleToRawLongBits(rd), s"dot: $fd vs $rd")
      assert(java.lang.Double.doubleToRawLongBits(fn) ==
        java.lang.Double.doubleToRawLongBits(rn), s"norm: $fn vs $rn")
    }
  }

  test("topKByScore == the rank-<=k window over ±0.0, NaN, ±Inf, nulls and tied scores") {
    val score = Gen.frequency(
      6 -> Gen.chooseNum(-3, 3).map(i => Option(i / 2.0)),
      1 -> Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity).map(Option(_)),
      1 -> Gen.const(Option.empty[Double]))
    val gen = Gen.zip(Gen.chooseNum(1, 6), Gen.listOfN(60, Gen.zip(Gen.chooseNum(0, 4), score)))
    samples(gen, 8).foreach { case (k, rows) =>
      val df = rows.zipWithIndex.map { case ((g, s), nid) => (g.toLong, nid.toLong, s) }
        .toDF("g", "nid", "s")
      val win = df.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("g")
            .orderBy(col("s").desc, col("nid").asc)))
        .filter(col("rank") <= k)
        .select("g", "rank", "nid").as[(Long, Int, Long)].collect().toSet
      val agg = Rankings.topKByScore(df, Seq("g"), col("s"), col("nid"), k, Seq("nid"))
        .select("g", "rank", "nid").as[(Long, Int, Long)].collect().toSet
      assert(agg == win, s"k=$k rows=$rows")
    }
  }

  test("Lambert-93 inverse stays France-plausible over the projection domain") {
    val gen = Gen.zip(Gen.chooseNum(100000.0, 1200000.0), Gen.chooseNum(6100000.0, 7100000.0))
    samples(gen, 200).foreach { case (x, y) =>
      val (lon, lat) = Lambert93.inverse(x, y)
      assert(math.abs(lon) < 180 && math.abs(lat) < 90)
      assert(lat > 40 && lat < 53, s"($x,$y) → lat $lat")
    }
  }

  test("Lambert-93 forward∘inverse round-trip at 1e-9° precision") {
    def fwd(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val e = Lambert93.E
      val phi = math.toRadians(latDeg)
      val liso = math.log(math.tan(math.Pi / 4 + phi / 2) *
        math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2))
      val r = Lambert93.C * math.exp(-Lambert93.N * liso)
      val gamma = Lambert93.N * math.toRadians(lonDeg - Lambert93.LON0_DEG)
      (Lambert93.XS + r * math.sin(gamma), Lambert93.YS - r * math.cos(gamma))
    }
    val gen = Gen.zip(Gen.chooseNum(-4.0, 9.0), Gen.chooseNum(41.5, 51.0))
    samples(gen, 200).foreach { case (lon, lat) =>
      val (x, y) = fwd(lon, lat)
      val (lon2, lat2) = Lambert93.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9, s"lon $lon → $lon2")
      assert(math.abs(lat2 - lat) < 1e-9, s"lat $lat → $lat2")
    }
  }

  test("winnow invariants: fingerprints ⊆ shingle hashes; shared run ⇒ shared print") {
    import graft.functions.OracleHash
    val k = 3; val w = 4
    def shingleHashes(toks: Seq[String]): Seq[Long] = {
      val nSh = math.max(toks.length - k + 1, 1)
      (0 until nSh).map { i =>
        val sh = toks.slice(i, math.min(i + k, toks.length)).mkString(" ")
        java.lang.Long.remainderUnsigned(OracleHash.md5Low64(sh), OracleHash.P61)
      }
    }
    def winnow(text: String): Set[Long] = Seq(text).toDF("t")
      .select(graft.functions.WinnowFingerprintP61(
        graft.text.Text.tokens(col("t")), k, w).as("f"))
      .as[Seq[Long]].first().toSet
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "mu")
    val gen = Gen.zip(Gen.listOfN(14, word), Gen.listOfN(14, word), Gen.listOfN(8, word))
    samples(gen, 15).foreach { case (a, b, run) =>
      // subset invariant: every fingerprint is one of the doc's shingle hashes
      val docA = (a ++ run).mkString(" ")
      val docB = (run ++ b).mkString(" ")
      val (fpA, fpB) = (winnow(docA), winnow(docB))
      assert(fpA.subsetOf(shingleHashes((a ++ run)).toSet))
      // MOSS guarantee: a shared run of >= k+w-1 tokens (here 8 >= 6)
      // shares at least one fingerprint — candidate recall for long matches
      assert(fpA.intersect(fpB).nonEmpty,
        s"no shared fingerprint despite an ${run.length}-token shared run")
    }
  }

  test("as-of joins == the naive theta-join argmin on random data (all directions)") {
    import graft.operators.AsOfJoin
    val gen = Gen.zip(
      Gen.listOfN(25, Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0L, 500L))),
      Gen.listOfN(15, Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0L, 500L))))
    samples(gen, 8).foreach { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, s"k$k", t) }
      val right = rs.zipWithIndex.map { case ((k, t), i) => (1000L + i, s"k$k", t) }
      val ldf = left.toDF("event_id", "key", "t")
      val rdf = right.toDF("rid", "key", "t")
      def naive(dir: String): Map[Long, Option[Long]] =
        left.map { case (id, k, lt) =>
          val cands = right.filter(_._2 == k).filter { case (_, _, rt) =>
            dir match {
              case "b" => rt <= lt
              case "f" => rt >= lt
              case "n" => true
            }
          }
          val pick = dir match {
            case "b" => cands.sortBy { case (rid, _, rt) => (-rt, -rid) }.headOption
            case "f" => cands.sortBy { case (rid, _, rt) => (rt, rid) }.headOption
            case "n" => cands.sortBy { case (rid, _, rt) =>
              // min distance; backward (rt <= lt) wins ties; then the
              // per-direction tie-break on rid
              (math.abs(rt - lt), if (rt <= lt) 0L else 1L,
                if (rt <= lt) -rid else rid)
            }.headOption
          }
          id -> pick.map(_._1)
        }.toMap
      def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
                  String, String, String, String, Seq[String]) => org.apache.spark.sql.DataFrame) =
        f(ldf, rdf, "key", "t", "event_id", "rid", Seq("rid"))
          .as[(Long, Option[Long])].collect().toMap
      assert(run(AsOfJoin.backward(_, _, _, _, _, _, _)) == naive("b"))
      assert(run(AsOfJoin.forward(_, _, _, _, _, _, _)) == naive("f"))
      assert(run(AsOfJoin.nearest(_, _, _, _, _, _, _)) == naive("n"))
    }
  }

  test("packSlices invariants on random corpora: coverage, gap-free, budget-exact") {
    import graft.text.SequencePack
    val gen = Gen.listOfN(20, Gen.zip(Gen.chooseNum(0L, 10000L), Gen.chooseNum(1, 30)))
    samples(gen, 8).foreach { docs0 =>
      val docs = docs0.distinctBy(_._1) // unique ids
      if (docs.nonEmpty) {
        val df = docs.map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
          .toDF("doc_id", "text")
        val B = 7L
        val rows = SequencePack.packSlices(df, "doc_id",
            graft.text.Text.tokenCount(col("text")), budget = B, nBuckets = 4)
          .as[(Long, Long, Long, Long)].collect().toSeq
        val total = docs.map(_._2.toLong).sum
        // per-sequence token sums: exactly B except the last
        val bySeq = rows.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
        val last = bySeq.keys.max
        bySeq.foreach { case (sq, n) =>
          if (sq == last) assert(n == total - B * last) else assert(n == B)
        }
        // per-doc slices cover [0, n) gap-free
        rows.groupBy(_._2).foreach { case (id, slices) =>
          val ord = slices.sortBy(_._1)
          assert(ord.head._3 == 0L)
          ord.sliding(2).foreach {
            case Seq((_, _, st1, l1), (_, _, st2, _)) => assert(st2 == st1 + l1)
            case _ => ()
          }
          assert(ord.map(_._4).sum == docs.find(_._1 == id).get._2.toLong)
        }
      }
    }
  }

  test("shuffleRank: permutation of 1..n equal to the naive window, on sparse random id sets") {
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.listOfN(60, Gen.chooseNum(0L, Long.MaxValue / 2))
    samples(gen, 8).foreach { rawIds =>
      val ids = rawIds.distinct
      val df = ids.toDF("id")
      val got = graft.operators.TrainingShuffle.shuffleRank(df, "id", "pseed")
        .as[(Long, Long)].collect().toMap
      assert(got.values.toSeq.sorted == (1L to ids.length).toSeq)
      val naive = df.withColumn("r", row_number().over(Window.orderBy(
          graft.operators.TrainingShuffle.shuffleKey(col("id"), "pseed"),
          col("id"))).cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(got == naive)
    }
  }

  test("madOutliers: flags invariant under group translation (median/MAD equivariance)") {
    val gen = Gen.listOfN(25, Gen.chooseNum(-1000L, 1000L))
    samples(gen, 8).zipWithIndex.foreach { case (vs, i) =>
      val base = vs.zipWithIndex.map { case (v, j) => (j.toLong, "g", v) }
        .toDF("id", "grp", "v")
      val shifted = vs.zipWithIndex.map { case (v, j) => (j.toLong, "g", v + 5000L) }
        .toDF("id", "grp", "v")
      def flags(df: org.apache.spark.sql.DataFrame) =
        graft.stats.Stats.madOutliers(df, Seq("grp"), "v")
          .select("id", "is_outlier").as[(Long, Long)].collect().toMap
      assert(flags(base) == flags(shifted), s"sample $i not translation-invariant")
    }
  }

  test("decontamination equals a brute-force distinct-gram intersection on random corpora") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val gen = Gen.zip(Gen.listOfN(6, docGen), Gen.listOfN(10, docGen))
    samples(gen, 8).foreach { case (evalTexts, corpusTexts) =>
      val eval = evalTexts.zipWithIndex.map { case (t, i) => (1000L + i, t) }.toDF("id", "text")
      val corpus = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = graft.text.Decontaminate.flagContaminated(corpus, eval, "id", "text", k = 3)
        .select("id", "shared_grams").as[(Long, Long)].collect().toMap
      def grams(t: String): Set[String] = {
        val w = t.split(" ")
        if (w.length < 3) Set.empty
        else w.sliding(3).map(_.mkString(" ")).toSet
      }
      val evalGrams = evalTexts.flatMap(grams).toSet
      corpusTexts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == (grams(t) & evalGrams).size.toLong, s"doc $i")
      }
    }
  }

  test("TextProfile equals a scala.String reference model on random space-heavy strings") {
    // Small alphabet + explicit space/empty weighting so empty tokens,
    // runs of spaces, and duplicate tokens/grams all occur. Reference
    // model: String.split with -1 limit (keeps trailing empties),
    // sliding(3) gram sets.
    val word = Gen.oneOf("a", "b", "ab", "ba", "", " ", "  ")
    val gen = Gen.listOfN(12, word).map(_.mkString(" "))
    samples(gen, 30).foreach { text =>
      val toks = text.split(" ", -1).toSeq
      val grams = if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toVector
                  else Vector.empty[String]
      val r = Seq(text).toDF("text")
        .select(graft.functions.TextProfile(col("text"), 3).as("p"))
        .select("p.*").head()
      assert(r.getLong(0) == toks.length, s"n_tokens for [$text]")
      assert(r.getLong(1) == toks.distinct.length, s"n_distinct_tokens for [$text]")
      assert(r.getLong(2) == grams.length, s"n_grams for [$text]")
      assert(r.getLong(3) == grams.distinct.length, s"n_distinct_grams for [$text]")
    }
  }
}
