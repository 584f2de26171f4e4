package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize an sf·K dataset from a driver sf directory by K-fold
  * replication with per-replica key offsets — every foreign-key
  * relationship is preserved inside each replica (customer i·C+c keeps
  * exactly the orders i·O+o that referenced c), so each replica is a
  * disjoint copy of the original "world" and the union is a valid
  * TPC-H-ish instance K× the size. Used for the scaling-ratio audit in
  * BASELINE.md (no sf1 directory ships with the harness); writes OUTSIDE
  * the repo (e.g. /tmp/sf1).
  *
  * Dimension tables region/nation stay as-is (they are fixed vocabularies
  * joined by every replica). `documents.text` is token-remapped per
  * replica (every word gets a `~i` suffix) so replicas share ZERO
  * shingles: the corpus' internal near-dup structure replicates exactly
  * ×K instead of every document acquiring K−1 cross-replica twins (which
  * would densify the LSH/PPJoin pair volume quadratically — a different
  * experiment than "same data, K× more of it").
  *
  * Embedding vectors repeat unchanged by default (ANN cost is driven by
  * row count, not values) — which means every vector gains K−1 exact
  * twins and near-dup pair density inflates ~K× beyond real-corpus
  * growth (the BASELINE.md caveat on q69's sf1 ratio). The
  * `--jitter-embeddings` flag fixes that the same way the text remap
  * does: replica i>0 gets a deterministic SIGNED PERMUTATION of the
  * vector coordinates (new[j] = ±old[perm_i[j]], LCG-seeded by i).
  * A signed permutation is orthogonal AND bit-exact in IEEE float (no
  * arithmetic, just moves and negations), so every within-replica inner
  * product — and therefore the replica's entire near-dup/ANN structure —
  * is preserved EXACTLY, while cross-replica cosines scramble to ~0 and
  * the twins disappear. Near-dup structure then replicates ×K, matching
  * the documents convention.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <K> [--jitter-embeddings]
  */
object ScaleUp {
  /** Deterministic signed permutation for replica `i` over `dim` coords:
    * Fisher-Yates + sign draws from a tiny LCG seeded by the replica
    * index. Replica 0 is the identity (the original world, untouched).
    * Exposed for the spec: the transform must be a bijection (orthogonal)
    * and replica-0 must be identity. */
  private[graft] def signedPerm(i: Int, dim: Int): (Array[Int], Array[Boolean]) = {
    if (i == 0) return (Array.tabulate(dim)(identity), Array.fill(dim)(true))
    var state = 0x9E3779B97F4A7C15L * (i + 1)
    def next(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (((state >>> 33) % bound).toInt + bound) % bound
    }
    val perm = Array.tabulate(dim)(identity)
    for (j <- dim - 1 to 1 by -1) {
      val m = next(j + 1)
      val t = perm(j); perm(j) = perm(m); perm(m) = t
    }
    val signs = Array.fill(dim)(next(2) == 0)
    (perm, signs)
  }

  def main(args: Array[String]): Unit = {
    val jitterEmb = args.contains("--jitter-embeddings")
    // --tables=documents,embeddings writes only those tables — the
    // fourth-decade (sf1000) probe needs the text/vector tables at
    // K=10000 but the full K would not fit this box's disk (lineitem
    // alone would be ~110 GB); a partial decade on the families that CAN
    // fit still buys hazard discovery a full decade would.
    val only: Option[Set[String]] = args
      .collectFirst { case a if a.startsWith("--tables=") =>
        a.stripPrefix("--tables=").split(",").map(_.trim).toSet }
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val Array(src, out, kStr) = args.filterNot(_.startsWith("--"))
    val k = kStr.toInt
    val spark = graft.Session.local(graft.Session.cpus)

    def rd(name: String): DataFrame =
      if (name == "events") graft.Tables.events(spark, src)
      else graft.Tables(spark, src, name)

    // offset stride per key space: next power of 10 above the max key,
    // so replica membership is readable off the key's leading digits
    def stride(df: DataFrame, c: String): Long = {
      // cast-to-long + null check: an Int-typed key parquet or an empty
      // table would otherwise throw an opaque ClassCastException/NPE here
      val row = df.agg(max(col(c).cast("long"))).head
      if (row.isNullAt(0))
        sys.error(s"ScaleUp: table has no rows (max($c) is null) — " +
          "cannot derive a replica stride")
      val mx = row.getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }

    lazy val cust = rd("customer"); lazy val supp = rd("supplier")
    lazy val part = rd("part")
    lazy val ord = rd("orders"); lazy val li = rd("lineitem")
    lazy val ev = rd("events")
    lazy val doc = rd("documents"); lazy val emb = rd("embeddings")
    // strides are lazy too: with --tables, the skipped tables' stride
    // probes (one action each) must not run — or even require the files
    lazy val cS = stride(cust, "c_custkey")
    lazy val sS = stride(supp, "s_suppkey")
    lazy val pS = stride(part, "p_partkey")
    lazy val oS = stride(ord, "o_orderkey")
    lazy val eS = stride(ev, "event_id")
    lazy val uS = stride(ev, "user_id"); lazy val dS = stride(doc, "doc_id")
    lazy val vS = stride(emb, "vec_id")

    // one replica of a table: shift the listed key columns by i·stride
    def replica(df: DataFrame, i: Int, shifts: (String, Long)*): DataFrame =
      shifts.foldLeft(df) { case (d, (c, st)) =>
        d.withColumn(c, col(c) + lit(i * st)) }

    def expand(df: DataFrame, shifts: (String, Long)*): DataFrame =
      (0 until k).map(i => replica(df, i, shifts: _*)).reduce(_ unionAll _)

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    if (wanted("region"))
      write(rd("region"), "region")
    if (wanted("nation"))
      write(rd("nation"), "nation")
    if (wanted("customer")) write(expand(cust, "c_custkey" -> cS), "customer")
    if (wanted("supplier")) write(expand(supp, "s_suppkey" -> sS), "supplier")
    if (wanted("part")) write(expand(part, "p_partkey" -> pS), "part")
    if (wanted("orders"))
      write(expand(ord, "o_orderkey" -> oS, "o_custkey" -> cS), "orders")
    if (wanted("lineitem"))
      write(expand(li, "l_orderkey" -> oS, "l_partkey" -> pS,
        "l_suppkey" -> sS), "lineitem")
    if (wanted("events"))
      write(expand(ev, "event_id" -> eS, "user_id" -> uS), "events")
    lazy val docReplicas = (0 until k).map { i =>
      val shifted = doc.withColumn("doc_id", col("doc_id") + lit(i * dS))
      if (i == 0) shifted
      else {
        val remapped = array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$i"))), " ")
        shifted.withColumn("text", remapped)
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }
    if (wanted("documents")) write(docReplicas.reduce(_ unionAll _), "documents")
    if (!wanted("embeddings")) ()
    else if (!jitterEmb) write(expand(emb, "vec_id" -> vS), "embeddings")
    else {
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      val embReplicas = (0 until k).map { i =>
        val shifted = emb.withColumn("vec_id", col("vec_id") + lit(i * vS))
        if (i == 0) shifted
        else {
          val (perm, signs) = signedPerm(i, dim)
          val rotated = array((0 until dim).map { j =>
            val c = col("embedding").getItem(perm(j))
            if (signs(j)) c else -c
          }: _*)
          shifted.withColumn("embedding", rotated)
        }
      }
      write(embReplicas.reduce(_ unionAll _), "embeddings")
    }
    println(s"[scaleup] wrote ${k}x of $src to $out")
    spark.stop()
  }
}
