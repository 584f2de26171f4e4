package graft.text

import graft.operators.PrefixSum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining: concatenate the corpus token
  * stream in a stable document order and chop it into fixed `budget`-token
  * training sequences ("concat-and-chop"). Each document gets the global
  * offset of its first token and the sequence id that token lands in.
  *
  * The interesting part at scale is the GLOBAL cumulative sum: the naive
  * `sum() over (ORDER BY doc_id)` window forces every row through ONE
  * partition — the classic scale cliff. [[graft.operators.PrefixSum]] keeps
  * it distributed: one range exchange on the id, per-partition token
  * totals read from that same shuffle, then one sorted map pass. Exact
  * integer arithmetic throughout.
  */
object SequencePack {

  /** Returns (idCol, n_tokens, start_offset, seq_id) — one row per input
    * row with a non-null id. `tokensCol` must be a BIGINT token count
    * column expression; a null count adds no tokens and gets a null
    * offset. */
  def packOffsets(docs: DataFrame, idCol: String, tokens: org.apache.spark.sql.Column,
                  budget: Long): DataFrame = {
    val d = docs.select(col(idCol), tokens.cast("long").as("n_tokens"))
    PrefixSum(d, Seq(col(idCol)), PrefixSum.Sum(col("n_tokens"), "__before"))
      .withColumn("start_offset", when(col("n_tokens").isNotNull, col("__before")))
      .withColumn("seq_id", expr(s"start_offset DIV $budget"))
      .select(col(idCol), col("n_tokens"), col("start_offset"), col("seq_id"))
  }

  /** True chunk-level packing: what a trainer actually consumes. Documents
    * are SPLIT across sequence boundaries — each output row is one
    * contiguous slice of one document landing in one training sequence:
    *
    *   (seq_id, idCol, slice_start, slice_len)
    *
    * with `slice_start` the token offset WITHIN the document. Every
    * sequence holds exactly `budget` tokens (except the final one), and a
    * document's slices are gap-free and ordered, so
    * `concat(slice for seq)(doc_tokens[slice_start : slice_start+len])`
    * reconstructs the packed stream byte-for-byte.
    *
    * Built on [[packOffsets]] (distributed prefix sum — no
    * single-partition window), then a per-row `explode(sequence(...))`
    * over the handful of sequences each document spans: pure codegen'd
    * column arithmetic, output size = input + one extra row per boundary
    * crossing, no shuffle beyond packOffsets' own. */
  def packSlices(docs: DataFrame, idCol: String, tokens: org.apache.spark.sql.Column,
                 budget: Long): DataFrame =
    packOffsets(docs, idCol, tokens, budget)
      .where(col("n_tokens") > 0)
      .withColumn("seq_id", explode(expr(
        s"sequence(start_offset DIV $budget, (start_offset + n_tokens - 1) DIV $budget)")))
      .withColumn("slice_start",
        greatest(col("start_offset"), col("seq_id") * budget) - col("start_offset"))
      .withColumn("slice_len",
        least(col("start_offset") + col("n_tokens"), (col("seq_id") + lit(1L)) * budget)
          - greatest(col("start_offset"), col("seq_id") * budget))
      .select(col("seq_id"), col(idCol), col("slice_start"), col("slice_len"))
}
