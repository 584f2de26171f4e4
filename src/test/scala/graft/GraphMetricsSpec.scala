package graft

import graft.graph.PageRank
import graft.operators.GlobalRank
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PageRank, the two-phase global prefix sum, AUC, calibration
  * (q133-q135). */
class GraphMetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pagerank: uniform on a symmetric ring, mass conserved") {
    // ring 0-1-2-3-0 symmetrized: perfectly regular → pr = 1/4 everywhere
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val edges = (ring ++ ring.map(_.swap)).toDF("src", "dst")
    val pr = PageRank.iterate(edges, iters = 3).as[(Long, Double)].collect().toMap
    assert(pr.values.forall(p => math.abs(p - 0.25) < 1e-7), pr.toString)
    assert(math.abs(pr.values.sum - 1.0) < 1e-6, "mass conserved")
  }

  test("pagerank: duplicate edges are absorbed by the checkpoint-time dedup") {
    // same ring, every edge listed twice: dedup=true must make outdeg and
    // ranks identical to the distinct fixture (the dedup aggregate rides
    // the repartition(src) exchange-free — this pins its VALUE contract)
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val sym = ring ++ ring.map(_.swap)
    val edges = (sym ++ sym).toDF("src", "dst")
    val pr = PageRank.iterate(edges, iters = 3).as[(Long, Double)].collect().toMap
    assert(pr.values.forall(p => math.abs(p - 0.25) < 1e-7), pr.toString)
  }

  test("pagerank: the hub of a symmetrized star outranks the leaves") {
    val star = (1L to 6L).map(i => (0L, i))
    val edges = (star ++ star.map(_.swap)).toDF("src", "dst")
    val pr = PageRank.iterate(edges, iters = 3).as[(Long, Double)].collect().toMap
    assert((1L to 6L).forall(l => pr(0L) > pr(l)), pr.toString)
  }

  test("kcore: peeling K4 + pendant chain leaves exactly the K4") {
    // K4 on 0-3 (every node degree 3) with a chain 3-4-5 hanging off it:
    // node 5 (deg 1) peels in round 1, node 4 (deg 2, then 1) in rounds
    // 1-2 → two rounds leave the K4 with all degrees 3.
    val k4 = for { u <- 0L to 3L; v <- 0L to 3L if u < v } yield (u, v)
    val tail = Seq((3L, 4L), (4L, 5L))
    val und = k4 ++ tail
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = graft.graph.KCore.peel(edges, k = 3, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), got.toString)
  }

  test("kcore: a cycle survives k=2 peeling untouched") {
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val edges = (ring ++ ring.map(_.swap)).toDF("src", "dst")
    val got = graft.graph.KCore.peel(edges, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L), got.toString)
  }

  test("bfs: hop distances on a path graph, radius bound respected") {
    // path 0-1-2-3-4-5, seed {0}: 3 rounds label nodes 0..3 with hops
    // 0..3 and leave 4, 5 unreached.
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (path ++ path.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val got = graft.graph.Bfs.hops(edges, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L), got.toString)
  }

  test("bfs: multi-source takes the nearest seed; ties resolve to the same min") {
    // path 0-1-2-3-4, seeds {0, 4}: node 2 is 2 hops from both.
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (path ++ path.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(0L, 4L).toDF("node")
    val got = graft.graph.Bfs.hops(edges, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 0L),
      got.toString)
  }

  test("exclusivePrefixSum equals the naive global window on random data") {
    val rng = new scala.util.Random(61)
    val rows = (1 to 2000).map(_ => rng.nextDouble() * 100)
      .distinct.map(v => (v, 1L + rng.nextInt(5)))
    val df = rows.toDF("v", "w")
    val got = GlobalRank.exclusivePrefixSum(df, "v", "w")
      .select("v", "cum_before").as[(Double, Long)].collect().toMap
    val naive = df.withColumn("cb", coalesce(sum(col("w")).over(
        Window.orderBy(col("v").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("v", "cb").as[(Double, Long)].collect().toMap
    assert(got == naive)
  }

  test("exclusivePrefixSum: constant order column lands in one bucket, still exact") {
    // degenerate mn == mx guard: single value, single row
    val df = Seq((5.0, 7L)).toDF("v", "w")
    val got = GlobalRank.exclusivePrefixSum(df, "v", "w")
      .select("cum_before").as[Long].collect().toSeq
    assert(got == Seq(0L))
  }

  test("AUC: perfectly separated scores give 1.0; hand-computed ties case") {
    def auc(rows: Seq[(Double, Long)]): Double = {
      val sc = rows.toDF("value", "lab")
      val g = sc.groupBy("value")
        .agg(count(lit(1)).as("cnt"), sum(col("lab")).as("npos_v"))
      val c = GlobalRank.exclusivePrefixSum(g, "value", "cnt")
      val scalars = sc.agg(sum(col("lab")).as("npos"),
        (count(lit(1)) - sum(col("lab"))).as("nneg"))
      c.agg(sum(col("npos_v") *
          (col("cum_before") + (col("cnt") + 1) / lit(2.0))).as("rsum"))
        .crossJoin(scalars)
        .select((col("rsum") - col("npos").cast("double") * (col("npos") + 1) / 2)
          / (col("npos").cast("double") * col("nneg")))
        .as[Double].head()
    }
    val sep = (1 to 10).map(i => (i.toDouble, if (i > 5) 1L else 0L))
    assert(auc(sep) == 1.0)
    // ties: pos {1, 2}, neg {2, 3}: pairs (1<2:0) (1<3:0) (2=2:.5) (2<3:0)
    // → U = 0.5 → AUC = 0.125
    val tied = Seq((1.0, 1L), (2.0, 1L), (2.0, 0L), (3.0, 0L))
    assert(auc(tied) == 0.125)
  }

  test("calibration bins partition the events and pos_rate is a valid rate") {
    val out = Queries.queries("q135_calibration_bins")(spark, TestSpark.sf0001)
      .select("bin", "cnt", "pos_rate").as[(Long, Long, Double)].collect()
    assert(out.map(_._2).sum == Tables.events(spark, TestSpark.sf0001).count())
    assert(out.forall(r => r._1 >= 0 && r._1 <= 9))
    assert(out.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
  }

  test("triangles: K4 + pendant counts 4; matches brute force on a random graph") {
    import graft.graph.Triangles
    // K4 on {1,2,3,4} has C(4,3)=4 triangles; pendant edge 4-5 adds none
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("u", "v")
    val r = Triangles.count(k4).first()
    assert(r.getAs[Long]("n_nodes") == 5 && r.getAs[Long]("n_edges") == 7)
    assert(r.getAs[Long]("n_triangles") == 4)
    // deterministic pseudo-random graph on 30 nodes vs brute force
    val es = (for { a <- 1L to 30L; b <- (a + 1) to 30L
      if (a * 7919 + b * 104729) % 5 == 0 } yield (a, b))
    val got = Triangles.count(es.toDF("u", "v")).first().getAs[Long]("n_triangles")
    val set = es.toSet
    val brute = (for { a <- 1L to 30L; b <- (a + 1) to 30L; c <- (b + 1) to 30L
      if set((a, b)) && set((b, c)) && set((a, c)) } yield 1).sum
    assert(got == brute, s"triangles $got != brute $brute")
  }

  test("KS: disjoint supports give D=1, identical samples give D=0") {
    import graft.operators.GlobalRank
    // replicate q148's core on fixtures through the same prefix-sum path
    def ks(rows: Seq[(Double, Long, Long)]): Double = {
      val g = rows.toDF("value", "n1v", "n2v")
      val cum = GlobalRank.exclusivePrefixSums(g, "value", Seq("n1v", "n2v"))
      val (n1, n2) = (rows.map(_._2).sum.toDouble, rows.map(_._3).sum.toDouble)
      cum.select(abs((col("cum_before_n1v") + col("n1v")) / n1
        - (col("cum_before_n2v") + col("n2v")) / n2).as("d"))
        .agg(max(col("d"))).as[Double].first()
    }
    // sample1 on {1,2,3}, sample2 on {10,11}: full separation
    assert(ks(Seq((1.0, 5L, 0L), (2.0, 3L, 0L), (3.0, 2L, 0L),
      (10.0, 0L, 4L), (11.0, 0L, 6L))) == 1.0)
    // identical per-value counts: ECDFs coincide everywhere
    assert(ks(Seq((1.0, 2L, 2L), (2.0, 3L, 3L), (5.0, 5L, 5L))) == 0.0)
    // the query's D is a valid statistic on real data
    val q = Queries.queries("q148_ks_test")(spark, TestSpark.sf0001).first()
    val d = q.getAs[Double]("d_stat")
    assert(d > 0.0 && d <= 1.0)
  }

  /** Writes a minimal lineitem parquet whose support-2 co-purchase graph
    * is exactly `orders` (each order = one basket, repeated twice so
    * every in-basket pair clears the min-support filter). */
  private def copurchaseFixture(orders: Seq[Seq[Long]]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_graph").toString
    val rows = orders.zipWithIndex.flatMap { case (parts, i) =>
      parts.flatMap(p => Seq((2L * i, p), (2L * i + 1, p)))
    }
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    tmp
  }

  test("random walks: every step follows an edge and the walk is deterministic") {
    // path graph 1-2-3: deg(1)=deg(3)=1, deg(2)=2
    val dir = copurchaseFixture(Seq(Seq(1L, 2L), Seq(2L, 3L)))
    val q = Queries.queries("q201_random_walks")
    val r1 = q(spark, dir).orderBy("walk_id").collect()
    val r2 = q(spark, dir).orderBy("walk_id").collect()
    assert(r1.toSeq == r2.toSeq, "walks must be replayable")
    assert(r1.length == 3)
    val adj = Map(1L -> Set(2L), 2L -> Set(1L, 3L), 3L -> Set(2L))
    r1.foreach { row =>
      val path = Seq(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(adj(a).contains(b), s"non-edge hop $a->$b in $path")
      }
    }
    // degree-1 endpoints have a forced first hop
    val byId = r1.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == 2L && byId(3L) == 2L)
  }

  test("adamic-adar: niche common neighbors outweigh the same count of hubs") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val r = graft.graph.LinkPrediction.adamicAdar(edges, minCommon = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    assert(r.size == 2)
    // (1,4): common {2,3}, both deg 3 → 2/ln3; (2,3): common {1,4}, deg 2 → 2/ln2
    assert(r((1L, 4L)) == (2L, 1.8205))
    assert(r((2L, 3L)) == (2L, 2.8854))
    // the deg-2 pair scores higher despite equal common counts
    assert(r((2L, 3L))._2 > r((1L, 4L))._2)
  }

  test("personalized pagerank: restart mass follows edge weights") {
    // path 1-2-3, weight(1-2)=1, weight(2-3)=3, seed = min node = 1
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 3L), (3L, 2L, 3L))
      .toDF("src", "dst", "w")
    val r = PageRank.personalizedWeighted(edges, iters = 2)
      .as[(Long, Double)].collect().toMap
    // hand-rolled: p1 = (0.15, 0.85, 0); p2 = (0.15+0.85·0.2125,
    // 0.85·0.15, 0.85·0.6375)
    assert(r(1L) == 0.330625)
    assert(r(2L) == 0.1275)
    assert(r(3L) == 0.541875)
    assert(math.abs(r.values.sum - 1.0) < 1e-6, "restart mass conserved")
  }

  test("personalized pagerank: duplicate (src,dst) weights merge by SUM") {
    // the window weight-merge (full-frame sum + row_number = 1) must make
    // split duplicate edges equal the pre-merged fixture — the value
    // contract of the r16 groupBy→window rewrite (mirrors the pagerank
    // duplicate-edge test above). Same path-1-2-3 fixture, each w=3 edge
    // split as 1+2 and the w=1 edges listed as 0.5+0.5.
    val edges = Seq(
      (1L, 2L, 0.5), (1L, 2L, 0.5), (2L, 1L, 0.5), (2L, 1L, 0.5),
      (2L, 3L, 1.0), (2L, 3L, 2.0), (3L, 2L, 2.0), (3L, 2L, 1.0)
    ).toDF("src", "dst", "w")
    val r = PageRank.personalizedWeighted(edges, iters = 2)
      .as[(Long, Double)].collect().toMap
    assert(r(1L) == 0.330625)
    assert(r(2L) == 0.1275)
    assert(r(3L) == 0.541875)
  }

  test("CC: driver union-find fast path ≡ iterative fixpoint on a random graph") {
    import spark.implicits._
    // deterministic pseudo-random graph: 60 nodes, 80 edges from a hash
    val edges = (1 to 80).map { i =>
      val a = (i * 2654435761L % 60) + 1
      val b = (i * 40503L % 60) + 1
      (a, b)
    }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val nodes = (1L to 60L).toDF("node")
    val local = graft.graph.ConnectedComponents.minLabelLocal(edges, nodes)
      .orderBy("node").collect().toSeq
    val (iterDf, conv) = graft.graph.ConnectedComponents
      .minLabelIterative(edges, nodes, maxRounds = 32)
    assert(conv)
    assert(local == iterDf.orderBy("node").collect().toSeq)
    // the count-based dispatcher takes the local path for a tiny edge
    // list, and the conf kill-switch forces the iterative one
    val (viaDispatch, c1) =
      graft.graph.ConnectedComponents.minLabel(edges, nodes, 32)
    assert(c1 && viaDispatch.orderBy("node").collect().toSeq == local)
    spark.conf.set("spark.graft.cc.localMaxEdges", "-1")
    try {
      val (forced, c2) =
        graft.graph.ConnectedComponents.minLabel(edges, nodes, 32)
      assert(c2 && forced.orderBy("node").collect().toSeq == local)
    } finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("CC: pointer jumping converges a long chain in O(log diameter) rounds") {
    import spark.implicits._
    // a 200-edge path graph has diameter 200: plain min-label propagation
    // needs ~200 rounds, so maxRounds=10 converging proves the l(v)←l(l(v))
    // shortcut is live (2^10 ≫ 200) — the property that makes a small
    // caller round budget safe when the heap-derived dispatch demotes a
    // mid-size graph to the iterative path
    val n = 201L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (1L to n).toDF("node")
    val (labels, conv) = graft.graph.ConnectedComponents
      .minLabelIterative(edges, nodes, maxRounds = 10)
    assert(conv, "chain of diameter 200 must converge within 10 rounds")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 1L),
      "every node labels to the component minimum")
  }

  test("CC: default local-path edge budget derives from driver heap (~300 B/edge at 1/32 heap)") {
    val f = graft.graph.ConnectedComponents.derivedLocalMaxEdges _
    // the published cost model: ~110k edges per GB of driver heap
    assert(f(1L << 30) == (1L << 30) / 9600)
    assert(f(1L << 30) > 100000L && f(1L << 30) < 120000L)
    // continuity with the old flat 1M constant at the 8 GB build default
    assert(f(8L << 30) > 800000L && f(8L << 30) < 1000000L)
    // monotone in heap, and the running JVM's own derived bound is sane
    assert(f(48L << 30) > f(8L << 30))
    assert(f(Runtime.getRuntime.maxMemory) > 0L)
  }

  test("modularity: two disjoint triangles give Q = 0.5") {
    val dir = copurchaseFixture(Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)))
    val r = Queries.queries("q203_modularity")(spark, dir)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    // label prop converges each triangle to its min node id; q_term rides
    // integer nano-units (0.25 → 250_000_000)
    assert(r(1L) == (3L, 3L, 6L, 250000000L))
    assert(r(4L) == (3L, 3L, 6L, 250000000L))
    assert(r(-1L) == (6L, 6L, 12L, 500000000L)) // ALL row: Q = 0.5
  }

  test("perNode triangles + q312 LCC: triangle corners credit, pendant is 0") {
    // triangle 1-2-3 with a pendant edge 3-4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val pn = graft.graph.Triangles.perNode(edges)
      .as[(Long, Long, Long)].collect().toSet
    assert(pn == Set((1L, 2L, 1L), (2L, 2L, 1L), (3L, 3L, 1L), (4L, 1L, 0L)))
    // same graph through the co-purchase query surface: orders {1,2,3}x2
    // build the triangle edges, {3,4}x2 the pendant
    val dir = copurchaseFixture(Seq(Seq(1L, 2L, 3L), Seq(3L, 4L)))
    val r = Queries.queries("q312_local_clustering")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(r == Set((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 0.333333), (4L, 1L, 0L, 0.0)))
  }
}
