package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weight-balanced output sharding — the write-side planner for a 100 TB
  * corpus: assign every document to one of `nShards` output files so the
  * per-shard TOKEN totals (not row counts) are balanced, keeping training
  * shards equal-cost. Greedy LPT is sequential; this uses snake (a.k.a.
  * boustrophedon) packing — rank rows by weight descending and deal ranks
  * into shards in alternating direction — which is fully data-parallel and
  * provably balances totals to within one max-item weight per round.
  *
  * The global rank is NOT a corpus-wide `row_number() over (order by …)`
  * (single-partition cliff): it is [[PrefixSum]]'s exclusive row count + 1
  * over (weight desc, id asc), one range exchange and one sorted map pass.
  */
object Sharding {

  /** Returns (idCol, weight, rank, shard): `rank` is the 1-based global
    * rank by (weight desc, id asc); `shard` ∈ [0, nShards). A row with a
    * null id or weight is dropped (PrefixSum's null contract). */
  def snakeShards(df: DataFrame, idCol: String, weight: Column,
                  nShards: Int): DataFrame = {
    require(nShards > 0)
    val d = df.select(col(idCol), weight.cast("long").as("__w"))
    PrefixSum(d, Seq(col("__w").desc, col(idCol).asc), PrefixSum.count("__before"))
      .withColumn("rank", col("__before") + 1L)
      .withColumn("shard", expr(
        s"""CASE WHEN ((rank - 1) DIV $nShards) % 2 = 0
           | THEN (rank - 1) % $nShards
           | ELSE ${nShards - 1} - (rank - 1) % $nShards END""".stripMargin))
      .select(col(idCol), col("__w").as("weight"), col("rank"), col("shard"))
  }
}
