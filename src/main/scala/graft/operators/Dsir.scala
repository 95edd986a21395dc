package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * score every raw document by how much more likely a TARGET
  * distribution would generate it than the raw distribution, using
  * bag-of-hashed-unigram language models, then keep the top-weighted
  * slice. The published recipe's hashed n-gram features become
  * md5-bucketed unigrams here (the engine's portable hash), and the
  * Gumbel resampling step becomes a deterministic top-k by
  * (log-weight, doc id) — the selection semantics a hash oracle can
  * replay exactly.
  *
  * log w(x) = Σ_tokens [ln p̂_t(bucket) − ln p̂_r(bucket)] with
  * Laplace-smoothed bucket models p̂(b) = (c(b)+1)/(n+B). Each bucket's
  * two log-probs round to 6dp (micro-nat, the perplexity-family
  * bridge) so the per-doc sum is an exact DECIMAL — summation-order
  * independent, engine-portable.
  *
  * Scale shape: one token explode (map-side) → one B-bucket aggregate
  * (fixed state, broadcast back) → one per-doc sum keyed by id. The
  * bucket model is B rows regardless of corpus size; nothing quadratic
  * anywhere. The top-k keep set comes from orderBy+limit
  * (TakeOrderedAndProject: per-partition top-k, topK-row merge)
  * joined back onto the per-doc frame — broadcast while topK rows fit
  * the planner's threshold, shuffled past it — no corpus-scale
  * single-partition rank window anywhere.
  */
object Dsir {

  /** Per-document importance scores against a target predicate.
    * Output: (doc_id, n_tokens, log_weight, kept) where `kept` flags
    * the `topK` highest-weighted docs (doc-id tiebreak). Documents
    * with no tokens score null and are never kept. */
  def dsirScores(docs: DataFrame, isTarget: Column, buckets: Int = 256,
                 topK: Int = 100, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol), isTarget.as("_tgt"),
        explode(graft.functions.TextFns.tokens(col(textCol)))
          .as("token"))
      .where(col("token") =!= "")
      .withColumn("bucket",
        pmod(Sampling.hashBucket(col("token")), lit(buckets)))

    // B-row smoothed bucket model for both distributions; totals ride
    // along via a window-free cross join of one aggregate row
    val counts = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("c_t"))
    val totals = tok.agg(count(lit(1)).as("n_r"),
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("n_t"))
    val model = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (round(log((col("c_t") + 1).cast("double")
            / (col("n_t") + buckets)), 6).cast("decimal(28,6)")
          - round(log((col("c_r") + 1).cast("double")
            / (col("n_r") + buckets)), 6).cast("decimal(28,6)"))
          .as("lr"))

    val perDoc = tok.join(broadcast(model), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lr")).as("_lw"))
    val base = docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
    // top-k keep WITHOUT a corpus-scale single-partition rank window:
    // under the tie-free (log-weight DESC NULLS LAST, id) total order
    // the kept set is exactly the topK highest non-null log-weights —
    // orderBy+limit plans as TakeOrderedAndProject (per-partition
    // top-k, then a topK-row merge) and the flag comes back as a join
    // of ≤ topK ids. No broadcast hint: the planner sizes the limit
    // side at topK rows, so a small topK still broadcasts and a huge
    // one shuffles. Identical to
    // `row_number() <= topK AND _lw IS NOT NULL` for every doc.
    val topIds = base.where(col("_lw").isNotNull)
      .orderBy(col("_lw").desc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), lit(1L).as("_in_top"))
    base.join(topIds, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("_lw").cast("double").as("log_weight"),
        (col("_lw").isNotNull && col("_in_top").isNotNull).cast("long")
          .as("kept"))
  }
}
