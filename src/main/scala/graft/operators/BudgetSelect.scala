package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Token-budget corpus selection: keep the highest-quality documents
  * whose cumulative token count fits a training budget — the greedy
  * prefix of the (quality DESC, doc_id ASC) ordering.
  *
  * The naive formulation is `SUM(tokens) OVER (ORDER BY quality DESC,
  * doc_id)` — a single-partition window, i.e. the whole corpus through
  * one task. [[Ranks.prefixSums]] instead computes the classic
  * two-phase parallel scan:
  *
  *   1. assign each row a range-bucket id that is MONOTONE along the
  *      ordering (quantile literals probed at construction — a pure
  *      row function, see [[Ranks.prefixSums]]),
  *   2. per-bucket running sums via a window PARTITIONED by the
  *      bucket id — all buckets in parallel,
  *   3. per-bucket totals (one tiny row per bucket) get their own
  *      prefix sum and broadcast back as offsets.
  *
  * The only single-partition window runs over `numPartitions` rows.
  * Result is identical to the naive global window for any total
  * ordering (ties must be broken — include a unique id in the order).
  */
object BudgetSelect {

  /** Greedy budget selection over `documents`: score with
    * [[TextFns.qualityScore]] (4dp-exact), order by (quality DESC,
    * doc_id), keep while the inclusive cumulative token count fits.
    *
    * Output: `(doc_id, quality, n_tokens, cum_tokens)` for kept docs.
    */
  def selectByTokenBudget(docs: DataFrame, tokenBudget: Long): DataFrame = {
    val scored = docs.select(
      col("doc_id"),
      TextFns.qualityScore(col("text")).as("quality"),
      TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
    Ranks.prefixSums(scored,
      Seq(col("quality").desc, col("doc_id").asc),
      Seq("cum_tokens" -> col("n_tokens")))
      .where(col("cum_tokens") <= tokenBudget)
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("cum_tokens"))
  }
}
