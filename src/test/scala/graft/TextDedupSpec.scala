package graft

import graft.dedup.Dedup
import graft.text.Text
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokenCount counts single-space separated tokens") {
    val df = Seq("a b c", "one", "x y").toDF("t")
    assert(df.select(Text.tokenCount(col("t"))).as[Long].collect().toSeq == Seq(3L, 1L, 2L))
  }

  test("occurrences counts literal substrings") {
    val df = Seq("the cat the hat").toDF("t")
    assert(df.select(Text.occurrences(col("t"), "the")).as[Double].collect().head == 2.0)
  }

  test("langId picks the language with the most stopword evidence") {
    val df = Seq(
      "so the cat and the dog of it",
      "voici le chat et la maison et le chien",
      "nur der hund und die katze und der vogel",
      "no markers here at all").toDF("t")
    val out = df.select(Text.langId(col("t"))).as[String].collect()
    assert(out.toSeq == Seq("en", "fr", "de", "unknown"))
  }

  test("fingerprint is whitespace-normalization invariant") {
    val df = Seq(("a  b\tc", "a b c")).toDF("x", "y")
    val r = df.select(Text.fingerprint(col("x")) === Text.fingerprint(col("y"))).as[Boolean]
    assert(r.collect().head)
  }

  test("qualityFeatures exact on a known string") {
    // "ab cd" → n_chars 5, n_tokens 2, nonspace 4 → avg_token_len 2.0,
    // space_ratio 1/5
    val df = Seq("ab cd").toDF("text")
    val feats = Text.qualityFeatures(col("text"))
    val r = df.select(feats.map { case (n, c) => c.as(n) }: _*).first()
    assert(r.getAs[Long]("n_chars_q") == 5L)
    assert(r.getAs[Long]("n_tokens") == 2L)
    assert(r.getAs[Double]("avg_token_len") == 2.0)
    assert(r.getAs[Double]("space_ratio") == 0.2)
  }

  test("exactDedup groups identical texts under one canonical id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "different"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "text", "doc_id")
      .orderBy("keep_id").select("keep_id", "dup_cnt").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minHashLsh finds a near-duplicate pair and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val nearDup = base.replace("today", "tomorrow")
    val other = "completely unrelated content about databases and distributed systems design"
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(df, "text", "doc_id", k = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.3).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simHash: identical docs → identical fingerprint; simHashDups finds them") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val sigs = df.select(Dedup.simHash(Text.tokens(col("text"))).as("s")).as[Long].collect()
    assert(sigs(0) == sigs(1))
    val dups = Dedup.simHashDups(df, "text", "doc_id", blocks = 4, maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(dups.exists(d => d._1 == 1L && d._2 == 2L && d._3 == 0))
  }

  test("ShingleHashes tight-loop expression == pure-HOF xxhash64 formulation, bit-exact") {
    // The custom expression replaced this HOF chain; equivalence must hold
    // on the edge cases too: empty text, single token, text shorter than k.
    val df = Seq("the quick brown fox jumps", "a", "", "x y", "one two three")
      .toDF("text")
    def hof(toks: org.apache.spark.sql.Column, k: Int) =
      transform(
        sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => xxhash64(concat_ws(" ", slice(toks, i + lit(1), lit(k)))))
    for (k <- Seq(2, 3, 7)) {
      val rows = df.select(
        Text.shingleHashes(Text.tokens(col("text")), k).as("fast"),
        hof(Text.tokens(col("text")), k).as("ref"))
        .as[(Seq[Long], Seq[Long])].collect()
      rows.foreach { case (fast, ref) => assert(fast == ref, s"k=$k") }
    }
    // null tokens: concat_ws SKIPS nulls (no separator); the tight loop must too
    val withNulls = Seq(
      (Seq[String]("a", null, "b", "c"), 0),
      (Seq[String](null, null), 0),
      (Seq[String]("only"), 0)).toDF("toks", "pad")
    for (k <- Seq(2, 3)) {
      val rows = withNulls.select(
        Text.shingleHashes(col("toks"), k).as("fast"), hof(col("toks"), k).as("ref"))
        .as[(Seq[Long], Seq[Long])].collect()
      rows.foreach { case (fast, ref) => assert(fast == ref, s"nulls k=$k") }
    }
  }

  test("ngramJaccardPairs computes exact Jaccard on shingle sets") {
    // identical docs → jaccard 1.0
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, df, "text", "doc_id", k = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("ngramJaccardPairs: shuffled (default) and broadcast-probe paths are value-identical") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(120)
    def run(bc: Boolean) =
      Dedup.ngramJaccardPairs(docs, docs, "text", "doc_id",
          k = 2, threshold = 0.2, broadcastProbe = bc)
        .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    val shuffled = run(bc = false)
    val bcast = run(bc = true)
    assert(shuffled.nonEmpty)
    assert(shuffled.toSeq == bcast.toSeq)
  }

  test("ngramJaccardSelfPairs (prefix filter) == plain postings join, several thresholds") {
    // The prefix filter must lose NOTHING: pair-for-pair, value-for-value
    // identical to the unfiltered inverted-postings join, including docs
    // built from hot (near-universal) shingles where the filter matters.
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(150)
      .select("doc_id", "text")
      .unionByName(Seq(
        (90001L, "the of and the of and one"),
        (90002L, "the of and the of and two"),
        (90003L, "the of and the of and one")).toDF("doc_id", "text"))
    for (t <- Seq(0.1, 0.3, 0.5, 0.9)) {
      val ref = Dedup.ngramJaccardPairs(docs, docs, "text", "doc_id", k = 2, threshold = t)
        .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
      val got = Dedup.ngramJaccardSelfPairs(docs, "text", "doc_id", k = 2, threshold = t)
        .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
      assert(got == ref, s"threshold=$t")
      if (t <= 0.3) assert(ref.nonEmpty, s"threshold=$t should produce pairs")
    }
  }

  test("canonicalize groups transitive near-dups under the lowest id") {
    val base = "the quick brown fox jumps over the lazy dog again and again today ok"
    val df = Seq(
      (10L, base),
      (11L, base.replace("today", "tomorrow")),   // near-dup of 10
      (12L, base.replace("quick", "rapid")),      // near-dup of 10 (and 11 transitively)
      (30L, "completely different content about spark catalyst optimizer internals here"))
      .toDF("doc_id", "text")
    val out = Dedup.canonicalize(df, "text", "doc_id", k = 2, jaccardThreshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(out(10L) == 10L && out(11L) == 10L && out(12L) == 10L)
    assert(out(30L) == 30L)
  }

  test("canonicalizeExact: true components of the jaccard graph, any diameter") {
    // a 5-link chain (each doc near-dups only its neighbors) forces >1
    // propagation round; plus a pair and singletons. Components are
    // verified against a driver-side union-find ground truth built from
    // brute-force exact jaccard pairs.
    // sliding 12-word windows with stride 3: adjacent docs share 9 words
    // (8 of 14 distinct shingles, jaccard 0.57 >= t) but docs 2+ steps
    // apart share only 6 (5/17 = 0.29 < t) — a genuine 6-node chain of
    // diameter 5, so min-label needs 5 propagation rounds to converge
    val words = (0 until 30).map(i => s"w$i")
    val chain = (0 until 6).map(i => (100L + i, words.slice(i * 3, i * 3 + 12).mkString(" ")))
    val others = Seq(
      (200L, "alpha beta gamma delta epsilon zeta eta theta"),
      (201L, "alpha beta gamma delta epsilon zeta eta iota"),
      (300L, "unrelated text about catalyst plan rewriting for distributed joins"))
    val df = (chain ++ others).toDF("doc_id", "text")
    val t = 0.5
    val got = Dedup.canonicalizeExact(df, "text", "doc_id", k = 2, jaccardThreshold = t)
      .as[(Long, Long)].collect().toMap
    // ground truth: union-find over brute-force pairs
    val pairs = Dedup.ngramJaccardPairs(df, df, "text", "doc_id", k = 2, threshold = t)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]() ++
      (chain ++ others).map(r => r._1 -> r._1)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val truth = parent.keys.map { n =>
      n -> parent.keys.filter(m => find(m) == find(n)).min
    }.toMap
    assert(got == truth)
    assert(got(300L) == 300L, "singleton maps to itself")
    assert(truth.values.toSet.size < parent.size, "chain must actually merge")
  }

  test("canonicalize fails loudly when the round budget truncates propagation") {
    // q44 is verified against an exact connected-components oracle, so a
    // silently truncated propagation is a correctness bug, not degraded
    // recall: a chain of diameter 5 cannot converge in 1 round.
    // The round budget only exists on the ITERATIVE CC path — force it
    // (the count dispatch would route this tiny fixture to the driver
    // union-find, which has no rounds to exhaust).
    spark.conf.set("spark.graft.cc.localMaxEdges", "-1")
    try {
      val words = (0 until 30).map(i => s"w$i")
      val chain = (0 until 6).map(i => (100L + i, words.slice(i * 3, i * 3 + 12).mkString(" ")))
      val df = chain.toDF("doc_id", "text")
      val e = intercept[IllegalStateException] {
        Dedup.canonicalize(df, "text", "doc_id", k = 2, jaccardThreshold = 0.5,
          rounds = 1)
      }
      assert(e.getMessage.contains("fixpoint"))
      // same budget with requireFixpoint=false returns (truncated) labels
      val truncated = Dedup.canonicalize(df, "text", "doc_id", k = 2,
        jaccardThreshold = 0.5, rounds = 1, requireFixpoint = false)
        .as[(Long, Long)].collect().toMap
      assert(truncated.size == 6)
      // and an adequate budget converges without throwing, to labels
      // that are a fixpoint (every canonical id is itself canonical; LSH
      // recall decides which chain edges exist, so the exact component
      // split is the band scheme's business, not this test's)
      val full = Dedup.canonicalize(df, "text", "doc_id", k = 2,
        jaccardThreshold = 0.5, rounds = 16)
        .as[(Long, Long)].collect().toMap
      assert(full.size == 6)
      assert(full.values.forall(c => full(c) == c), "canonical ids are fixpoints")
      assert(full.values.toSet.size < 6, "adjacent near-dups must merge")
    } finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("canonicalize: local and reliable checkpoint modes give identical results") {
    // the spark.graft.checkpointDir seam must change durability only —
    // same labels either way (this is the cluster-deployment switch for
    // every iterative operator)
    val base = "the quick brown fox jumps over the lazy dog again and again today ok"
    val df = Seq(
      (10L, base),
      (11L, base.replace("today", "tomorrow")),
      (12L, base.replace("quick", "rapid")),
      (30L, "completely different content about spark catalyst optimizer internals here"))
      .toDF("doc_id", "text")
    def run() = Dedup.canonicalize(df, "text", "doc_id", k = 2, jaccardThreshold = 0.5)
      .as[(Long, Long)].collect().toMap
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(graft.io.Checkpoints.ConfKey, dir)
    try {
      val reliable = run()
      assert(reliable == local)
      // reliable mode really wrote checkpoint data to the configured dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"no checkpoint files under $dir")
    } finally spark.conf.unset(graft.io.Checkpoints.ConfKey)
  }

  test("winnowing fingerprint is stable and edit-local") {
    val df = Seq("one two three four five six seven eight nine ten").toDF("t")
    val fp = df.select(Text.winnowingFingerprint(Text.tokens(col("t"))).as("f"))
      .as[Seq[Long]].collect().head
    assert(fp.nonEmpty)
    // deterministic across evaluations
    val fp2 = df.select(Text.winnowingFingerprint(Text.tokens(col("t"))).as("f"))
      .as[Seq[Long]].collect().head
    assert(fp == fp2)
  }

  test("WinnowFingerprintP61 equals a direct Scala recomputation (incl. clamps)") {
    import graft.functions.OracleHash
    def expected(text: String, k: Int, w: Int): Seq[Long] = {
      val toks = text.split(" ")
      val nSh = math.max(toks.length - k + 1, 1)
      val hs = (0 until nSh).map { i =>
        val shingle = toks.slice(i, math.min(i + k, toks.length)).mkString(" ")
        java.lang.Long.remainderUnsigned(OracleHash.md5Low64(shingle), OracleHash.P61)
      }
      val nWin = math.max(nSh - w + 1, 1)
      (0 until nWin).map(j => hs.slice(j, math.min(j + w, nSh)).min).distinct
    }
    // long doc, doc shorter than w windows, doc shorter than k tokens
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "four tokens only here",
      "tiny")
    val got = texts.toDF("t")
      .select(graft.functions.WinnowFingerprintP61(Text.tokens(col("t")), 3, 4).as("f"))
      .as[Seq[Long]].collect().toSeq
    assert(got == texts.map(expected(_, 3, 4)))
    // all values in the oracle-comparable [0, 2^61) range
    assert(got.flatten.forall(h => h >= 0 && h < OracleHash.P61))
  }

  test("winnowNearDupPairs finds the engineered near-dup, not the unrelated doc") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep dark forest tonight while everyone sleeps soundly"
    val df = Seq(
      (1L, base),
      (2L, base.replace("tonight", "today")), // one-token edit: long shared runs
      (3L, "completely different content about spark catalyst optimizer " +
        "internals and whole stage codegen fusion boundaries explained"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDupPairs(df, "text", "doc_id",
        k = 3, w = 4, minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("packOffsets == naive single-window cumsum; sequences chop at the budget") {
    import graft.text.SequencePack
    // irregular ids and sizes so buckets are uneven and some are empty
    val docs = Seq(
      (3L, "a b c"), (7L, "d e"), (8L, "f"), (21L, "g h i j k"),
      (22L, "l m"), (40L, "n"), (41L, "o p q"), (99L, "r s t u"))
      .toDF("doc_id", "text")
    val got = SequencePack.packOffsets(docs, "doc_id",
        Text.tokenCount(col("text")), budget = 4L)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_offset", "seq_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val naive = docs
      .select(col("doc_id"), Text.tokenCount(col("text")).as("n"))
      .withColumn("cum", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .orderBy("doc_id")
      .select(col("doc_id"), col("n"), (col("cum") - col("n")).as("off"),
        ((col("cum") - col("n")) / 4).cast("long").as("seq"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == naive)
    // offsets are gap-free: each doc starts where the previous one ended
    got.sliding(2).foreach { case Seq((_, n1, o1, _), (_, _, o2, _)) =>
      assert(o2 == o1 + n1)
    }
  }

  test("survivor selection keeps the longest doc per cluster, lowest id on ties") {
    // docs 1-3 form one near-dup cluster (bigram Jaccard >= 0.5); doc 3 is
    // longest -> keeper; docs 10/11 are identical twins -> tie, keep 10
    val df = Seq(
      (1L, "the quick brown fox jumps over dogs"),
      (2L, "the quick brown fox jumps over dogs tonight"),
      (3L, "the quick brown fox jumps over dogs tonight again"),
      (10L, "completely different words entirely here"),
      (11L, "completely different words entirely here"),
      (20L, "a lone unmatched document"))
      .toDF("doc_id", "text")
    val clusters = Dedup.canonicalizeExact(df, "text", "doc_id", k = 2,
      jaccardThreshold = 0.5)
    val survivors = clusters
      .join(df.select(col("doc_id"), length(col("text")).cast("long").as("q")), "doc_id")
      .groupBy(col("canonical_id"))
      .agg(graft.functions.ArgMinBy(col("doc_id"),
          (-col("q")).cast("double"), col("doc_id")).as("keep_id"),
        count(lit(1)).as("cluster_size"))
      .orderBy("canonical_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(survivors == Seq((1L, 3L, 3L), (10L, 10L, 2L), (20L, 20L, 1L)))
  }

  test("ngramStrings / dupNgramFraction: repeats counted, short docs are 0") {
    val df = Seq(
      "a b c a b c a b",   // 6 trigrams: abc bca cab abc bca cab → 3 distinct
      "w x y z",           // 2 trigrams, both unique
      "a b",               // too short → no trigrams
      "spam spam spam spam spam spam") // 4 identical trigrams
      .toDF("t")
    val grams = df.select(Text.ngramStrings(col("t"), 3)).as[Seq[String]].collect()
    assert(grams(0) == Seq("a b c", "b c a", "c a b", "a b c", "b c a", "c a b"))
    assert(grams(1) == Seq("w x y", "x y z"))
    assert(grams(2) == Seq.empty)
    assert(grams(3) == Seq.fill(4)("spam spam spam"))
    val frac = df.select(Text.dupNgramFraction(col("t"), 3)).as[Double].collect()
    assert(frac(0) == 0.5)       // 3 of 6 are repeats
    assert(frac(1) == 0.0)
    assert(frac(2) == 0.0)       // no grams → defined as 0
    assert(frac(3) == 0.75)      // 3 of 4 are repeats
  }

  test("packSlices: every sequence holds exactly budget tokens (last may be short), " +
       "doc slices are gap-free, and boundary docs split") {
    import graft.text.SequencePack
    val docs = Seq(
      (3L, "a b c"), (7L, "d e"), (8L, "f"), (21L, "g h i j k"),
      (22L, "l m"), (40L, "n"), (41L, "o p q"), (99L, "r s t u"))
      .toDF("doc_id", "text")
    val B = 4L
    val rows = SequencePack.packSlices(docs, "doc_id",
        Text.tokenCount(col("text")), budget = B)
      .select("seq_id", "doc_id", "slice_start", "slice_len")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val total = 3 + 2 + 1 + 5 + 2 + 1 + 3 + 4 // 21 tokens
    // every sequence packs exactly B tokens; the final one takes the rest
    val bySeq = rows.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val lastSeq = bySeq.keys.max
    assert(lastSeq == (total - 1) / B)
    bySeq.foreach { case (s, n) =>
      if (s == lastSeq) assert(n == total - B * lastSeq)
      else assert(n == B, s"sequence $s holds $n tokens, want $B")
    }
    // per-doc slices are gap-free, ordered by seq_id, and cover [0, n)
    val nTok = Map(3L -> 3L, 7L -> 2L, 8L -> 1L, 21L -> 5L, 22L -> 2L,
      40L -> 1L, 41L -> 3L, 99L -> 4L)
    rows.groupBy(_._2).foreach { case (id, slices) =>
      val ord = slices.sortBy(_._1)
      assert(ord.head._3 == 0L, s"doc $id first slice starts at ${ord.head._3}")
      ord.sliding(2).foreach {
        case Seq((s1, _, st1, l1), (s2, _, st2, _)) =>
          assert(s2 == s1 + 1 && st2 == st1 + l1, s"doc $id slices not contiguous")
        case _ => ()
      }
      assert(ord.map(_._4).sum == nTok(id), s"doc $id slices don't cover the doc")
      assert(ord.forall(_._4 > 0))
    }
    // the 5-token doc 21 MUST split across a boundary (budget 4)
    assert(rows.count(_._2 == 21L) >= 2)
    // slice count = docs + boundary crossings
    val offsets = SequencePack.packOffsets(docs, "doc_id",
        Text.tokenCount(col("text")), budget = B)
      .select("start_offset", "n_tokens").as[(Long, Long)].collect()
    val crossings = offsets.map { case (o, n) => (o + n - 1) / B - o / B }.sum
    assert(rows.size == docs.count() + crossings)
  }

  test("winnowNearDupPairs maxDocFreq drops boilerplate fingerprints") {
    // every doc shares the same boilerplate sentence; with the cap at
    // (nDocs - 1) the boilerplate prints (df = nDocs) are dropped and no
    // pair survives, while without the cap all pairs collide on it
    val boiler = "this page is copyright the example corporation all rights reserved"
    val df = (1L to 5L).map(i => (i, s"$boiler unique tail number $i here")).toDF("doc_id", "text")
    val uncapped = Dedup.winnowNearDupPairs(df, "text", "doc_id", 3, 4, minShared = 1)
    assert(uncapped.count() == 10) // all C(5,2) pairs share boilerplate prints
    val capped = Dedup.winnowNearDupPairs(df, "text", "doc_id", 3, 4,
      minShared = 1, maxDocFreq = 4)
    assert(capped.count() == 0)
  }

  test("incrementalMinHash flags the batch copy of a corpus doc, admits a novel one") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"), // copy of 10
      (21L, "totally different words with nothing shared anywhere at all"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinHash(corpus, batch, "text", "doc_id")
      .select("doc_id", "dup_of", "is_dup")
      .as[(Long, Option[Long], Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(20L) == ((20L, Some(10L), true)))
    assert(out(21L) == ((21L, None, false)))
  }
}
