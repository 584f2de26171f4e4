package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic global training-order shuffle: every row gets a dense
  * rank in a pseudo-random but REPRODUCIBLE total order — the "shuffle
  * the corpus once per epoch" step of an LLM training pipeline, without
  * `rand()` (non-replayable, changes under retry/speculation) and without
  * the single-partition `row_number() OVER (ORDER BY …)` window (the q84
  * scale cliff).
  *
  * Order key = md5(seed ‖ id): cryptographic mixing makes the order
  * uncorrelated with ingest order, and changing `seed` ("epoch2", …)
  * yields an independent permutation while staying bit-reproducible
  * across runs, engines, and task retries.
  *
  * The rank is [[PrefixSum]]'s exclusive row count + 1 over (key, id):
  * one range exchange on the key (md5 output is uniform, so the sampled
  * ranges are balanced), per-partition counts from that same shuffle, one
  * sorted map pass. A trainer then reads
  * `ORDER BY shuffle_rank` ranges, or writes the corpus back partitioned
  * by `shuffle_rank DIV rows_per_shard` for sequential shard reads.
  */
object TrainingShuffle {

  /** md5-hex order key for a row id (lowercase hex in every engine). */
  def shuffleKey(idCol: org.apache.spark.sql.Column, seed: String) =
    md5(concat(lit(seed), idCol.cast("string")))

  /** Adds `shuffle_rank` (BIGINT, 1-based, dense) ordering `df` by
    * md5(seed ‖ idCol). Ties are impossible for distinct ids (equal md5
    * would need equal input strings) but idCol breaks them anyway so the
    * order is total even under id reuse. A null id has a null key and is
    * dropped (PrefixSum's null contract). */
  def shuffleRank(df: DataFrame, idCol: String, seed: String): DataFrame =
    PrefixSum(df.withColumn("__key", shuffleKey(col(idCol), seed)),
        Seq(col("__key"), col(idCol)), PrefixSum.count("__before"))
      .withColumn("shuffle_rank", col("__before") + 1L)
      .drop("__key", "__before")
}
