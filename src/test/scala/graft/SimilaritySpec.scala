package graft

import graft.similarity.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosineTopK: exact ranking on hand-built vectors") {
    val q = Seq((0L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val c = Seq(
      (1L, Array(1f, 0f, 0f)),    // cos 1.0
      (2L, Array(1f, 1f, 0f)),    // cos ~0.707
      (3L, Array(0f, 1f, 0f)),    // cos 0
      (4L, Array(-1f, 0f, 0f)))   // cos -1
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(q, c, "vec_id", "embedding", 3)
      .select("neighbor_id", "rank").as[(Long, Int)].collect()
    assert(out.toSeq == Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("cosineTopK ties break by neighbor id ascending") {
    val q = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val c = Seq((5L, Array(2f, 0f)), (3L, Array(3f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(q, c, "vec_id", "embedding", 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect()
    assert(out.toSeq == Seq((3L, 1), (5L, 2))) // both cos=1.0 → id asc
  }

  test("lshCosineTopK: high top-5 recall vs brute force on clustered vectors") {
    // LSH recall is structure-dependent: on clustered data (the realistic
    // corpus shape) hyperplane buckets separate clusters well; a uniformly
    // random corpus is the adversarial worst case (neighbors ~orthogonal).
    val rng = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian()))
    def pt(c: Int) = centers(c).map(v => (v + 0.15 * rng.nextGaussian()).toFloat)
    val corpus = (10 until 300).map(i => (i.toLong, pt(i % 8))).toDF("vec_id", "embedding")
    val queries = (0 until 8).map(i => (i.toLong, pt(i % 8))).toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshCosineTopK(queries, corpus, "vec_id", "embedding", 5,
        nBits = 8, dim = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall too low on clustered data: $recall")
  }

  test("ivfCosineTopK with nProbe == nCells equals the exact scan") {
    // probing every cell visits the whole corpus: IVF must then reproduce
    // brute force exactly (same cosine fold, same tie-break)
    val rng = new scala.util.Random(29)
    val corpus = (10 until 200).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = (0 until 4).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfCosineTopK(queries, corpus, "vec_id", "embedding", 5,
        nCells = 8, nProbe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf == exact)
  }

  test("ivfTrainedTopK: trained cells beat or match lowest-id cells on clustered data") {
    val rng = new scala.util.Random(29)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian()))
    def pt(c: Int) = centers(c).map(v => (v + 0.15 * rng.nextGaussian()).toFloat)
    val corpus = (10 until 300).map(i => (i.toLong, pt(i % 8))).toDF("vec_id", "embedding")
    val queries = (0 until 8).map(i => (i.toLong, pt(i % 8))).toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val trained = recallOf(Similarity.ivfTrainedTopK(queries, corpus,
      "vec_id", "embedding", 5, nCells = 8, nProbe = 2, trainIters = 3))
    val static = recallOf(Similarity.ivfCosineTopK(queries, corpus,
      "vec_id", "embedding", 5, nCells = 8, nProbe = 2))
    assert(trained >= 0.8, s"trained-IVF recall too low: $trained")
    assert(trained >= static - 1e-9,
      s"training should not hurt recall here: trained $trained vs static $static")
  }

  test("ivfCosineTopK: reasonable recall at nProbe < nCells on clustered data") {
    val rng = new scala.util.Random(31)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian()))
    def pt(c: Int) = centers(c).map(v => (v + 0.15 * rng.nextGaussian()).toFloat)
    val corpus = (10 until 300).map(i => (i.toLong, pt(i % 8))).toDF("vec_id", "embedding")
    val queries = (0 until 8).map(i => (i.toLong, pt(i % 8))).toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfCosineTopK(queries, corpus, "vec_id", "embedding", 5,
        nCells = 16, nProbe = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVF recall too low on clustered data: $recall")
  }

  test("ivfCosineTopK: tie-break to lowest centroid id") {
    // colinear corpus vectors → every centroid cosine ties at 1.0; the
    // assignment must pick the lowest centroid id
    val corpus = (10 until 30).map(i =>
      (i.toLong, Array(i.toFloat, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(2f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.ivfCosineTopK(queries, corpus, "vec_id", "embedding", 3,
        nCells = 4, nProbe = 1)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    // all corpus rows land in cell 10 (lowest id on the all-ties argmax),
    // so probing 1 cell still sees the whole corpus: top-3 = ids 10,11,12
    assert(out == Set((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)))
  }

  test("ivfCosineTopK: nCells=1024 smoke on the reference-object path") {
    // a literal-inlined centroid table hit a Janino/plan-size ceiling here;
    // the reference-object form must both plan and answer at real-corpus nCells
    val rng = new scala.util.Random(43)
    val corpus = (0 until 1500).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = (5000 until 5003).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val out = Similarity.ivfCosineTopK(queries, corpus, "vec_id", "embedding", 3,
        nCells = 1024, nProbe = 32)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(out.map(_._1).distinct.length == 3) // every query answered
    assert(out.length == 9)                    // k=3 each
  }

  test("ivfCosineTopK excludes zero-norm vectors by contract") {
    // a zero-norm corpus row has undefined cosine (NaN) — it must be
    // filtered, not ranked-by-NaN (Spark sorts NaN largest; SQL engines
    // disagree)
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 0f)), (3L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, Array(1f, 0f)), (9L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfCosineTopK(queries, corpus, "vec_id", "embedding", 5,
        nCells = 2, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L), (0L, 3L))) // no zero-norm query or neighbor
  }

  test("ivfCosineTopK fails by name on a corpus row it cannot score") {
    // a NaN element passes the positive-norm filter (Spark ranks NaN above
    // 0) but has no cosine to any centroid: fail, never drop the row
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(Float.NaN, 1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception](Similarity.ivfCosineTopK(queries, corpus, "vec_id",
      "embedding", 5, nCells = 2, nProbe = 2).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("nearest_centroid_cell: no cosine to rank")), e)
  }

  test("cosineNearDupPairs == brute-force cross-join pairs, exactly") {
    // random corpus + planted near-dups; grid blocking must lose nothing
    val rng = new scala.util.Random(7)
    val base = (0 until 120).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian())))
    val planted = base.filter(_._1 % 20 == 0)
      .map { case (id, v) => (id + 1000, v.updated(0, v(0) + 0.02)) }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val t = 0.95
    val got = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding", t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = corpus.as("a").crossJoin(corpus.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", Similarity.cosine(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= t)
      .select(col("a.vec_id"), col("b.vec_id")).as[(Long, Long)].collect().toSet
    assert(got == brute)
    assert(got.nonEmpty, "planted near-dups must be found")
    assert(planted.map(p => (p._1 - 1000, p._1)).toSet.subsetOf(got))
  }

  test("cosineNearDupPairs: pcaRotate blocking returns identical pairs (exactness is blocking-independent)") {
    val rng = new scala.util.Random(11)
    // anisotropic corpus: variance concentrated on a fixed random direction,
    // so the principal axes genuinely differ from the raw coordinates
    val dir = Array.fill(16)(rng.nextGaussian())
    val base = (0 until 100).map { i =>
      val w = rng.nextGaussian() * 3.0
      (i.toLong, Array.tabulate(16)(d => dir(d) * w + rng.nextGaussian() * 0.3))
    }
    val planted = base.filter(_._1 % 25 == 0)
      .map { case (id, v) => (id + 1000, v.updated(1, v(1) + 0.02)) }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    def run(rot: Boolean) =
      Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding", 0.95, pcaRotate = rot)
        .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    val raw = run(rot = false)
    val rotated = run(rot = true)
    assert(raw == rotated)
    assert(raw.nonEmpty, "planted near-dups must be found")
  }

  test("cosineNearDupPairs finds pairs straddling a grid cell boundary") {
    // two unit vectors with first coords in adjacent cells (r ≈ 0.45 at
    // t=0.9): identical otherwise, cosine ~0.99 — must meet via the
    // neighbor-cell probe, not the home cell
    val a = Array(0.44, 0.0, 0.0, 0.898)
    val b = Array(0.46, 0.0, 0.0, 0.888)
    val corpus = Seq((1L, a), (2L, b)).toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding", 0.9,
      blockDims = 3).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("int8 scalar quantization (q81): codes bounded, reconstruction within scale/2") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / lit(127.0))
      .filter(col("scale") > 0)
      .withColumn("qv", transform(col("v"),
        x => floor(x / col("scale") + lit(0.5)).cast("long")))
    val rows = e.select(col("v"), col("scale"), col("qv"))
      .as[(Seq[Double], Double, Seq[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v, scale, qv) =>
      assert(qv.forall(c => c >= -127 && c <= 127), s"code out of int8 range: $qv")
      v.zip(qv).foreach { case (x, c) =>
        assert(math.abs(x - c * scale) <= scale / 2 + 1e-12,
          s"reconstruction error ${math.abs(x - c * scale)} > ${scale / 2}")
      }
    }
  }

  test("quantized ANN agrees with exact ANN on most neighbors (recall sanity)") {
    val exact = Queries.queries("q27_ann_cosine")(spark, TestSpark.sf0001)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Queries.queries("q81_quantized_ann")(spark, TestSpark.sf0001)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // int8 quantization perturbs cosines by ~1e-3; top-5 sets may differ at
    // the margin but must overlap strongly (>= 60% here, empirically 90%+)
    val overlap = exact.intersect(quant).size.toDouble / exact.size
    assert(overlap >= 0.6, s"quantized recall too low: $overlap")
  }

  test("matryoshkaTopK with candidates == |corpus| equals the exact scan") {
    // an unfiltered coarse stage passes every row to the rerank, which is
    // the same fold as cosineTopK — results must be identical
    val rng = new scala.util.Random(41)
    val corpus = (10 until 150).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = (0 until 4).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val mrl = Similarity.matryoshkaTopK(queries, corpus, "vec_id", "embedding", 5,
        coarseDim = 16, candidates = 140)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(mrl == exact)
  }

  test("matryoshkaTopK: good recall at a 20-candidate shortlist on clustered data") {
    // clustered corpus: the 16-dim prefix preserves cluster geometry, so a
    // small shortlist already contains the true top-5
    val rng = new scala.util.Random(43)
    val centers = Array.fill(8)(Array.fill(64)(rng.nextGaussian()))
    def pt(c: Int) = centers(c).map(v => (v + 0.15 * rng.nextGaussian()).toFloat)
    val corpus = (10 until 300).map(i => (i.toLong, pt(i % 8))).toDF("vec_id", "embedding")
    val queries = (0 until 8).map(i => (i.toLong, pt(i % 8))).toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // the prefix nails the CLUSTER every time; ranking WITHIN a ~36-member
    // cluster carries only 16/64 of the signal, so the shortlist must be a
    // small multiple of the cluster size for the true top-5 to survive
    val mrl = Similarity.matryoshkaTopK(queries, corpus, "vec_id", "embedding", 5,
        coarseDim = 16, candidates = 40)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect mrl).size.toDouble / exact.size
    assert(recall >= 0.85, s"matryoshka recall too low on clustered data: $recall")
  }

  test("signPack: hand-checked bit layout in 32-bit words") {
    // dims 0,3 positive in word 0; dims 32,34 positive in word 1
    val v = Array.fill(64)(-1.0f)
    v(0) = 1f; v(3) = 1f; v(32) = 1f; v(34) = 1f
    val df = Seq((1L, v)).toDF("vec_id", "embedding")
    val words = df.select(Similarity.signPack(
        transform(col("embedding"), _.cast("double")), 64).as("w"))
      .as[Seq[Long]].head()
    assert(words == Seq((1L << 0) | (1L << 3), (1L << 0) | (1L << 2)))
  }

  test("binaryHammingTopK: identical vector has hamming 0 and rank 1") {
    val rng = new scala.util.Random(47)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    val corpus = ((10 until 60).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))) :+ (99L, base))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, base)).toDF("vec_id", "embedding")
    val top = Similarity.binaryHammingTopK(queries, corpus, "vec_id", "embedding", 1,
        candidates = 10)
      .select("neighbor_id", "hamming", "rank").as[(Long, Long, Int)].head()
    assert(top == ((99L, 0L, 1)))
  }

  test("binaryHammingTopK with candidates == |corpus| equals the exact scan") {
    val rng = new scala.util.Random(53)
    val corpus = (10 until 150).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = (0 until 4).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val bin = Similarity.binaryHammingTopK(queries, corpus, "vec_id", "embedding", 5,
        candidates = 140)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(bin == exact)
  }

  test("hyperplane signature is deterministic across evaluations") {
    val e = Tables.embeddings(spark, TestSpark.sf0001).limit(20)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val s1 = e.select(col("vec_id"),
      Similarity.hyperplaneSignature(col("v"), 8, 64).as("sig"))
      .as[(Long, Int)].collect().toMap
    val s2 = e.select(col("vec_id"),
      Similarity.hyperplaneSignature(col("v"), 8, 64).as("sig"))
      .as[(Long, Int)].collect().toMap
    assert(s1 == s2)
  }

  test("int8 sketch dot stays within quantBound of the true cosine (prefilter is lossless)") {
    // the two-stage near-dup prefilter drops a pair only when the sketch
    // cosine is below threshold − quantBound; if the bound ever failed,
    // a true pair could be lost silently — so measure it on random data
    val rng = new scala.util.Random(13)
    val dims = Seq(8, 64)
    for (dim <- dims) {
      val rows = (0 until 60).map { i =>
        (i.toLong, Array.fill(dim)(rng.nextGaussian()))
      }
      val df = rows.toDF("id", "v")
        .withColumn("n", graft.functions.NormD(col("v")))
        .withColumn("q", graft.functions.QuantizeUnitI8(col("v"), col("n")))
      val pairs = df.as("a").crossJoin(df.as("b"))
        .filter(col("a.id") < col("b.id"))
        .select(
          (graft.functions.DotProductD(col("a.v"), col("b.v")) /
            (col("a.n") * col("b.n"))).as("cos"),
          (graft.functions.DotProductI8(col("a.q"), col("b.q"))
            .cast("double") / lit(127.0 * 127.0)).as("qcos"))
        .as[(Double, Double)].collect()
      val bound = Similarity.quantBound(dim)
      val worst = pairs.map { case (c, qc) => math.abs(c - qc) }.max
      assert(worst <= bound,
        s"dim=$dim: observed error $worst exceeds proven bound $bound")
    }
  }

  test("vector kernels: codegen and interpreted paths agree bit-for-bit, including null edges") {
    // DotProductD/NormD/QuantizeUnitI8/DotProductI8 gained doGenCode in
    // r14; the whole-stage-codegen loop must produce the same bits (and
    // the same nulls on length mismatch / element null) as the
    // interpreted eval the oracle parity was proven against.
    // CODEGEN_ONLY + fallback=false: without them a doGenCode that fails
    // to COMPILE silently falls back to interpreted eval and this test
    // passes vacuously — here a broken kernel must fail the suite.
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rng = new scala.util.Random(29)
      val rows = (0 until 40).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian()))) :+
        (99L, Array.fill(7)(1.0)) // odd length: pairs with it are length-mismatched
      val df = rows.toDF("id", "v")
        .withColumn("n", graft.functions.NormD(col("v")))
        .withColumn("q", graft.functions.QuantizeUnitI8(col("v"), col("n")))
      val viaCodegen = df.as("a").crossJoin(df.as("b"))
        .select(col("a.id").as("ia"), col("b.id").as("ib"),
          graft.functions.DotProductD(col("a.v"), col("b.v")).as("dot"),
          graft.functions.DotProductI8(col("a.q"), col("b.q")).as("qdot"))
        .as[(Long, Long, Option[Double], Option[Int])].collect()
        .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
      val byId = rows.toMap
      def interpDot(a: Array[Double], b: Array[Double]): Option[Double] =
        if (a.length != b.length) None
        else Some(a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i)))
      // reference int8 codes: the exact arithmetic QuantizeUnitI8 contracts
      def codes(v: Array[Double]): Array[Byte] = {
        val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
        v.map(x => math.max(-127.0, math.min(127.0,
          math.rint(x / n * 127.0))).toByte)
      }
      def interpQdot(a: Array[Double], b: Array[Double]): Option[Int] =
        if (a.length != b.length) None
        else {
          val (qa, qb) = (codes(a), codes(b))
          Some(qa.indices.foldLeft(0)((acc, i) => acc + qa(i) * qb(i)))
        }
      for (((ia, ib), (dot, qdot)) <- viaCodegen) {
        val expected = interpDot(byId(ia), byId(ib))
        assert(dot == expected, s"dot mismatch for ($ia,$ib)")
        assert(qdot == interpQdot(byId(ia), byId(ib)),
          s"qdot mismatch for ($ia,$ib)")
      }
      // norms: sqrt of the same sequential fold
      val norms = df.select(col("id"), col("n")).as[(Long, Double)].collect().toMap
      for ((id, v) <- byId)
        assert(norms(id) == math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("quantize_unit_i8 clamps (never wraps) when the supplied norm undershoots") {
    // a norm smaller than the true one pushes v_i/n past 1.0; the byte
    // cast used to WRAP rint(1.6·127)=203 to -53, silently inverting the
    // coordinate in every downstream sketch dot — the clamp saturates at
    // ±127 instead (both eval paths)
    val df = Seq((1L, Array(1.6, -1.6, 0.5), 1.0))
      .toDF("id", "v", "n")
      .withColumn("q", graft.functions.QuantizeUnitI8(col("v"), col("n")))
    val q = df.select("q").as[Array[Byte]].head()
    assert(q.toSeq == Seq[Byte](127, -127, math.rint(0.5 * 127).toByte))
  }

  test("quantize_unit_i8: nulls and degenerate norms propagate, codes are unit-bounded") {
    val df = Seq(
      (1L, Some(Array(3.0, 4.0)), Some(5.0)),   // unit (0.6, 0.8)
      (2L, Some(Array(1.0, 0.0)), Some(0.0)),   // zero norm -> null
      (3L, None: Option[Array[Double]], Some(1.0))
    ).toDF("id", "v", "n")
      .withColumn("q", graft.functions.QuantizeUnitI8(col("v"), col("n")))
    val got = df.select("id", "q").as[(Long, Option[Array[Byte]])]
      .collect().toMap
    assert(got(1L).get.toSeq == Seq(math.rint(0.6 * 127).toByte, math.rint(0.8 * 127).toByte))
    assert(got(2L).isEmpty && got(3L).isEmpty)
  }
}
