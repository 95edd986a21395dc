package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Threshold-free model-evaluation curves over a scored frame
  * `(key, score DOUBLE, label INT 0/1)` — the evaluation stage the
  * reference runs after ml/train.py's accuracy/F1 block (ml/train.py's
  * metric set stops at confusion-matrix statistics; these are the
  * ranking-quality metrics a score-producing model needs next).
  *
  * All three are exact relational computations, no sampling:
  *   - [[rocAuc]]: Mann-Whitney rank-sum AUC with midrank tie handling —
  *     one sort-window per key plus one hash aggregate; at scale each
  *     key's eval series sorts inside its own window partition (no
  *     global order).
  *   - [[liftGain]]: cumulative-gains / lift table over score deciles.
  *     The ntile ranking is a TOTAL order by construction (deciles of
  *     the whole eval set); bounded by the holdout size, which is the
  *     frame model evaluation runs on — not the 100 TB corpus.
  *   - [[logLoss]]: per-key logistic log-loss + Brier score of the
  *     sigmoid-calibrated score — pure map + hash aggregate.
  */
object ModelEval {

  /** Exact ROC-AUC per key via the rank-sum identity
    * `AUC = (Σ_pos midrank − n⁺(n⁺+1)/2) / (n⁺·n⁻)`, with ties resolved
    * by midranks (rank() + (tie_count−1)/2) — identical to the
    * trapezoidal ROC integral. Keys whose eval window lacks both
    * classes are dropped (AUC undefined). */
  def rocAuc(scored: DataFrame, key: String = "user_id"): DataFrame = {
    val byScore = Window.partitionBy(col(key)).orderBy(col("score"))
    val ties = Window.partitionBy(col(key), col("score"))
    val midrank = rank().over(byScore) +
      (count(lit(1)).over(ties) - 1) / 2.0
    scored.withColumn("midrank", midrank)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(col("label")).cast("long").as("n_pos"),
        sum(when(col("label") === 1, col("midrank"))).as("pos_rank_sum"))
      .withColumn("n_neg", col("n") - col("n_pos"))
      .where(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col(key), col("n"), col("n_pos"), col("n_neg"),
        round((col("pos_rank_sum")
            - col("n_pos") * (col("n_pos") + lit(1)) / 2.0)
          / (col("n_pos") * col("n_neg")), 4).as("auc"))
  }

  /** Cumulative-gains / lift table: rank the whole eval set by score
    * descending (deterministic `tiebreak` columns make the ntile
    * assignment engine-independent), split into `buckets`, and report
    * per-bucket positives, cumulative capture rate, and lift vs the
    * base rate. */
  def liftGain(scored: DataFrame, buckets: Int = 10,
               tiebreak: Seq[String] = Seq("user_id", "date")): DataFrame = {
    val order = col("score").desc +: tiebreak.map(col)
    // scale-safe exact ntile over the eval-set-sized frame (two-phase
    // row_number + closed-form bucket; no single-partition window)
    val bucketed = Ranks.distributedNtile(scored, order, buckets,
        "bucket")
      .withColumn("bucket", col("bucket").cast("long"))
    val perBucket = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("label")).cast("long").as("n_pos"))
    // unpartitioned windows over the BUCKETS-row table only
    // (scale-audit r13)
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    perBucket
      .withColumn("cum_pos", sum(col("n_pos")).over(cum))
      .withColumn("total_pos", sum(col("n_pos")).over(tot))
      .withColumn("total_n", sum(col("n")).over(tot))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("n_pos") / col("n").cast("double"), 4).as("pos_rate"),
        round(col("cum_pos") / col("total_pos").cast("double"), 4)
          .as("cum_gain"),
        round((col("n_pos") / col("n").cast("double"))
          / (col("total_pos") / col("total_n").cast("double")), 4)
          .as("lift"))
  }

  /** Per-key average precision (the exact PR-curve area under the
    * step interpolation): rank by score descending with a deterministic
    * `tiebreak` (AP is order-dependent within a tie run, so both
    * engines must break ties identically), then
    * `AP = (1/n⁺) Σ_{k: label_k=1} precision@k`. One sort-window per
    * key + one hash aggregate; keys with no positives are dropped
    * (AP undefined). */
  def averagePrecision(scored: DataFrame, key: String = "user_id",
                       tiebreak: Seq[String] = Seq("date")): DataFrame = {
    val order = col("score").desc +: tiebreak.map(col)
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val k = row_number().over(w)
    val cumPos = sum(col("label")).over(cum)
    scored
      .withColumn("prec_at_k",
        when(col("label") === 1, cumPos.cast("double") / k))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(col("label")).cast("long").as("n_pos"),
        sum(col("prec_at_k")).as("ap_sum"))
      .where(col("n_pos") > 0)
      .select(col(key), col("n"), col("n_pos"),
        round(col("ap_sum") / col("n_pos"), 4).as("ap"))
  }

  /** Reliability table: bucket p = σ(score) into `bins` equal-width
    * probability bins and report per-bin support, mean predicted
    * probability, and observed positive rate (the two curves a
    * calibration plot draws). `frac_pos` is an integer-count ratio, so
    * it rounds through the exact scaled-long bridge ([[graft.functions
    * .ExactRound]]) — `n/bin-count` ratios are the decimal-tie class.
    * Bounded output (`bins` rows); one hash aggregate. */
  def calibration(scored: DataFrame, bins: Int = 10): DataFrame = {
    val p = lit(1.0) / (lit(1.0) + exp(-col("score")))
    val bin = least(floor(p * bins), lit(bins - 1)).cast("long")
    scored.withColumn("bin", bin).withColumn("p", p)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("label")).cast("long").as("n_pos"),
        round(avg(col("p")), 4).as("mean_p"))
      .select(col("bin"), col("n"), col("n_pos"), col("mean_p"),
        graft.functions.ExactRound.ratio(col("n_pos"), col("n"), 4)
          .as("frac_pos"))
  }

  /** Per-key Spearman rank correlation of two columns: Pearson `corr`
    * of midranks (rank() + (ties−1)/2 — the tie-correct definition).
    * Two sort-windows + one hash aggregate per key; keys where either
    * column is constant yield null (zero rank variance). */
  def spearman(df: DataFrame, key: String, x: String, y: String): DataFrame = {
    def midrank(c: String) =
      rank().over(Window.partitionBy(col(key)).orderBy(col(c))) +
        (count(lit(1)).over(Window.partitionBy(col(key), col(c))) - 1) / 2.0
    df.withColumn("rx", midrank(x)).withColumn("ry", midrank(y))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        round(corr(col("rx"), col("ry")), 4).as("rho"))
  }

  /** Per-key Kolmogorov-Smirnov separation statistic — the maximum
    * gap between the positive and negative score CDFs, evaluated at
    * every distinct score: `KS = max_t |F⁺(t) − F⁻(t)|`. ALL-INTEGER:
    * the gap numerator is `|cum_pos·n⁻ − cum_neg·n⁺|`, maximized as a
    * long, and only the final ratio rounds (half-up, exact bridge).
    * One (key, score) hash aggregate + one sort-window per key; keys
    * lacking both classes are dropped (KS undefined). */
  def ks(scored: DataFrame, key: String = "user_id"): DataFrame = {
    val perScore = scored.groupBy(col(key), col("score"))
      .agg(sum(col("label")).cast("long").as("p"),
        sum(lit(1) - col("label")).cast("long").as("q"))
    val cumW = Window.partitionBy(col(key)).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(col(key))
    val cum = perScore
      .withColumn("cp", sum(col("p")).over(cumW))
      .withColumn("cq", sum(col("q")).over(cumW))
      .withColumn("np", sum(col("p")).over(totW))
      .withColumn("nq", sum(col("q")).over(totW))
    cum.where(col("np") > 0 && col("nq") > 0)
      .groupBy(col(key))
      .agg(max(col("np")).as("n_pos"), max(col("nq")).as("n_neg"),
        max(abs(col("cp") * col("nq") - col("cq") * col("np")))
          .as("dnum"))
      .select(col(key), (col("n_pos") + col("n_neg")).as("n"),
        col("n_pos"), col("n_neg"),
        graft.functions.ExactRound.ratio(col("dnum"),
          col("n_pos") * col("n_neg"), 4).as("ks"))
  }

  /** Per-key mutual information (nats) between the SIGN of the score
    * (down / flat / up) and the label:
    * `MI = (1/n) Σ_xy c_xy · ln(c_xy·n / (r_x·c_y))`. The log factors
    * round at 6dp into the micro-nat DECIMAL bridge (the charEntropy
    * scheme), the final /n is the signed half-up bridge — rounding may
    * leave a near-zero sum on either side of 0, and Spark `div`
    * truncates where DuckDB `//` floors. One (key, x, y) aggregate;
    * marginals come from windows sharing the key prefix. */
  def mutualInfo(scored: DataFrame, key: String = "user_id"): DataFrame = {
    val cxy = scored
      .withColumn("x", signum(col("score")).cast("int"))
      .groupBy(col(key), col("x"), col("label"))
      .agg(count(lit(1)).as("c"))
    val wx = Window.partitionBy(col(key), col("x"))
    val wy = Window.partitionBy(col(key), col("label"))
    val wk = Window.partitionBy(col(key))
    val j = cxy
      .withColumn("rx", sum(col("c")).over(wx))
      .withColumn("cy", sum(col("c")).over(wy))
      .withColumn("n", sum(col("c")).over(wk))
    val term = (col("c").cast("decimal(12,0)") *
      round(log((col("c") * col("n")).cast("double")
        / (col("rx") * col("cy"))), 6).cast("decimal(10,6)"))
      .cast("decimal(28,6)")
    val agg = j.withColumn("_t", term)
      .groupBy(col(key))
      .agg(max(col("n")).as("n"), sum(col("_t")).as("_s"))
    val su = (col("_s") * 1000000).cast("long") // micro-nat·count
    agg.select(col(key), col("n"),
      (graft.functions.ExactRound.signedScaled(su, col("n") * 100, 0)
        .cast("double") / 10000).as("mi"))
  }

  /** Global precision-recall curve table: one row per DISTINCT score
    * threshold (descending — "predict positive at ≥ t"), with exact
    * integer TP/FP cumulatives and bridge-rounded precision/recall.
    * The stepwise complement of [[averagePrecision]]'s scalar. One
    * (score) aggregate + one bounded cumulative window over distinct
    * scores. */
  def prCurve(scored: DataFrame): DataFrame = {
    val perScore = scored.groupBy(col("score"))
      .agg(sum(col("label")).cast("long").as("p"),
        (count(lit(1)) - sum(col("label"))).cast("long").as("q"))
    // cumulatives + grand total via the two-phase prefix-sum shape —
    // the distinct-score frame is quantization-bounded in practice,
    // but at raw-double score cardinality the old single-partition
    // cumulative window would serialize it through one task
    Ranks.prefixSums(perScore, Seq(col("score").desc),
        values = Seq("tp" -> col("p"), "fp" -> col("q")),
        totals = Map("tp" -> "np"))
      .select(col("score").as("threshold"), col("tp"), col("fp"),
        graft.functions.ExactRound.ratio(col("tp"),
          col("tp") + col("fp"), 4).as("precision_at"),
        graft.functions.ExactRound.ratio(col("tp"),
          greatest(col("np"), lit(1L)), 4).as("recall_at"))
  }

  /** Per-key logistic log-loss and Brier score: p = σ(score/scale),
    * clamped away from {0,1} by `eps` so a confident miss stays finite
    * (the standard sklearn-style clip). */
  def logLoss(scored: DataFrame, key: String = "user_id",
              scale: Double = 1.0, eps: Double = 1e-15): DataFrame = {
    val p0 = lit(1.0) / (lit(1.0) + exp(-col("score") / scale))
    val p = least(greatest(p0, lit(eps)), lit(1.0 - eps))
    val y = col("label").cast("double")
    scored
      .withColumn("ll", -(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p)))
      .withColumn("sq", pow(p - y, 2))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        round(avg(col("ll")), 4).as("log_loss"),
        round(avg(col("sq")), 4).as("brier"))
  }

  /** Matthews correlation per key of the thresholded score
    * (predict positive when score > 0) vs the binary label:
    * `MCC = (TP·TN − FP·FN) / √((TP+FP)(TP+FN)(TN+FP)(TN+FN))` —
    * the confusion counts and the numerator are exact integers; the
    * √ of their product is the only double (off the decimal-tie
    * class). Keys with an empty marginal (MCC undefined) drop.
    * One conditional hash aggregate. */
  def matthews(scored: DataFrame, key: String = "user_id"): DataFrame = {
    val pred = (col("score") > 0).cast("long")
    val y = col("label").cast("long")
    def cnt(c: Column) =
      sum(when(c, 1L).otherwise(0L)).cast("long")
    val g = scored.select(col(key), pred.as("p"), y.as("y"))
      .groupBy(col(key))
      .agg(cnt(col("p") === 1 && col("y") === 1).as("tp"),
        cnt(col("p") === 1 && col("y") === 0).as("fp"),
        cnt(col("p") === 0 && col("y") === 0).as("tn"),
        cnt(col("p") === 0 && col("y") === 1).as("fn"))
    val den = sqrt(((col("tp") + col("fp")) * (col("tp") + col("fn")))
        .cast("double") *
      ((col("tn") + col("fp")) * (col("tn") + col("fn"))).cast("double"))
    g.where((col("tp") + col("fp")) > 0 && (col("tp") + col("fn")) > 0 &&
        (col("tn") + col("fp")) > 0 && (col("tn") + col("fn")) > 0)
      .select(col(key), col("tp"), col("fp"), col("tn"), col("fn"),
        round((col("tp") * col("tn") - col("fp") * col("fn"))
          .cast("double") / den, 4).as("mcc"))
  }

  /** Weight-of-evidence / information-value table over score deciles
    * (the credit-scoring feature-power staple): per decile
    * `WOE = ln(pos_share/neg_share)` with Laplace-smoothed EXACT
    * bridge shares, IV contribution `(pos_share − neg_share)·WOE`
    * rounded to a 6dp decimal so the total is order-free. Decile
    * assignment is a deterministic total order (score desc, key/date
    * tiebreak). */
  def woeIv(scored: DataFrame, buckets: Int = 10): DataFrame = {
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // scale-safe exact ntile over the eval-set-sized frame (two-phase
    // row_number + closed-form bucket; no single-partition window).
    // The downstream `tot` windows run over the bounded decile table.
    val d = Ranks.distributedNtile(scored,
        Seq(col("score").desc, col("user_id").asc, col("date").asc),
        buckets, "decile")
      .withColumn("decile", col("decile").cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("label")).cast("long").as("np"))
      .withColumn("nn", col("n") - col("np"))
      .withColumn("tp", sum(col("np")).over(tot).cast("long"))
      .withColumn("tn", sum(col("nn")).over(tot).cast("long"))
    // Laplace +1 keeps empty cells finite; shares through 8dp bridges
    def share(c: Column, t: Column) =
      graft.functions.ExactRound.ratio(c + 1, t + lit(2L), 8)
    val ps = share(col("np"), col("tp"))
    val ns = share(col("nn"), col("tn"))
    val woe = log(ps / ns)
    d.select(col("decile"), col("n"), col("np").as("n_pos"),
        col("nn").as("n_neg"), round(woe, 4).as("woe"),
        round((ps - ns) * woe, 6).cast("decimal(28,6)").as("_iv"))
      .withColumn("iv_total",
        sum(col("_iv")).over(tot).cast("double"))
      .select(col("decile"), col("n"), col("n_pos"), col("n_neg"),
        col("woe"), col("_iv").cast("double").as("iv_term"),
        round(col("iv_total"), 6).as("iv_total"))
  }

  /** Reciprocal rank of the FIRST positive per key under the score
    * ordering (score desc, date asc tiebreak — a deterministic total
    * order): `rr = 1/rank` through the exact 6dp bridge. Keys with no
    * positive drop (rr undefined). One sort-window per key. */
  def mrr(scored: DataFrame, key: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("score").desc, col("date").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("label") === 1)
      .groupBy(col(key))
      .agg(min(col("rnk")).cast("long").as("first_rank"))
      .select(col(key), col("first_rank"),
        graft.functions.ExactRound.ratio(lit(1L), col("first_rank"), 6)
          .as("rr"))
  }

  /** The nDCG log₂ discount grid: disc(i) = round(10⁶/log₂(i+1)) as
    * exact micro-int LONGS, generated ONCE in the JVM and embedded as
    * literals in both the plan and the oracle SQL — no engine
    * evaluates a logarithm at query time (the cross-engine libm
    * divergence class the PLANS.md round-9 audit catalogs). */
  private[graft] def ndcgDiscounts(k: Int): IndexedSeq[Long] =
    (1 to k).map(i => math.round(1e6 * math.log(2) / math.log(i + 1.0)))

  /** nDCG@k per key over binary labels under the deterministic score
    * order (score desc, date asc): `DCG@k = Σ_{i≤k} labelᵢ·disc(i)`
    * and — binary labels make the ideal ranking "all positives
    * first", so no second sort — `IDCG@k = Σ_{i≤min(n_pos,k)}
    * disc(i)`, a k-bounded literal prefix-sum lookup. Both are exact
    * LONG sums of the generated micro-int discounts; ndcg rounds
    * through the integer bridge. Keys with no positive drop
    * (nDCG undefined). One sort-window per key, nothing global. */
  def ndcgAtK(scored: DataFrame, k: Int = 10,
              key: String = "user_id"): DataFrame = {
    require(k >= 1 && k <= 1000, s"need 1 <= k <= 1000; got $k")
    val disc = ndcgDiscounts(k)
    val cum = disc.scanLeft(0L)(_ + _).tail
    val w = Window.partitionBy(col(key))
      .orderBy(col("score").desc, col("date").asc)
    val discAt = element_at(array(disc.map(lit): _*),
      col("rnk").cast("int"))
    scored.withColumn("rnk", row_number().over(w))
      .groupBy(col(key))
      .agg(sum(col("label")).cast("long").as("n_pos"),
        sum(when(col("rnk") <= k && col("label") === 1, discAt)
          .otherwise(lit(0L))).cast("long").as("dcg6"))
      .where(col("n_pos") > 0)
      .withColumn("idcg6", element_at(array(cum.map(lit): _*),
        least(col("n_pos"), lit(k.toLong)).cast("int")))
      .select(col(key), col("n_pos"), col("dcg6"),
        graft.functions.ExactRound.ratio(col("dcg6"), col("idcg6"), 6)
          .as("ndcg_at"))
  }

  /** Precision@k / recall@k per key under the same deterministic score
    * order: exact integer hit counts, exact bridge ratios. The window
    * sorts each key's eval series inside its own partition — no global
    * order at any scale. */
  /** Expected reciprocal rank @k (Chapelle et al., CIKM 2009) per key
    * over binary labels under the deterministic score order. The
    * cascade model with binary relevance has stop probability 1/2 at
    * every positive, so the j-th positive at rank r contributes
    * EXACTLY `1/(r·2^j)` — ERR@k collapses to one exact micro-int
    * bridge term per in-window positive, summed as longs. The 2^j
    * factors are k-bounded generated literals (the ndcgDiscounts
    * discipline: no pow() at query time in either engine). Keys with
    * no positive inside the top-k drop (ERR undefined, mirroring
    * [[ndcgAtK]]'s no-positive drop). k ≤ 32 keeps r·2^j far from
    * Long overflow inside the bridge. */
  def errAtK(scored: DataFrame, k: Int = 10,
             key: String = "user_id"): DataFrame = {
    require(k >= 1 && k <= 32, s"need 1 <= k <= 32; got $k")
    val pows = (1 to k).map(j => 1L << j)
    val w = Window.partitionBy(col(key))
      .orderBy(col("score").desc, col("date").asc)
    val wp = Window.partitionBy(col(key)).orderBy(col("rnk"))
    val den = col("rnk") *
      element_at(array(pows.map(lit): _*), col("j").cast("int"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k && col("label") === 1)
      .withColumn("j", row_number().over(wp))
      .groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n_pos_at_k"),
        sum(graft.functions.ExactRound.scaled(lit(1L), den, 6))
          .cast("long").as("err6"))
      .select(col(key), col("n_pos_at_k"), col("err6"),
        (col("err6").cast("double") / 1e6).as("err_at"))
  }

  /** ANN recall@k against an exact baseline — the number a production
    * pipeline tunes nProbe/m/shortlist by: for each query, the share
    * of the EXACT top-k neighbors the ANN path retrieved.
    * `ann`/`exact` are both (queryCol, neighborCol) top-k frames (the
    * shapes [[Similarity.bruteForceTopK]] / [[Similarity.ivfTopK]] /
    * [[IvfPq.search]] emit). Counts and the 4dp recall are exact
    * integers (hits / k through the integer bridge), so given a
    * staged ANN output the metric takes a full hash oracle (q338).
    *
    * Scale: both inputs are k-bounded PER QUERY (n_queries × k rows —
    * corpus-independent), so the join is shortlist-sized; the
    * expensive work is producing the two top-k frames, which is the
    * operators' problem, not this metric's. Queries with zero ANN
    * hits still emit a row (left join from the exact side). Duplicate
    * (query, neighbor) pairs on the ANN side are collapsed before
    * counting — a multi-probe union must not double-count a hit. */
  def annRecallAtK(ann: DataFrame, exact: DataFrame, k: Int,
                   queryCol: String = "query_id",
                   neighborCol: String = "neighbor_id"): DataFrame = {
    require(k >= 1, s"need k >= 1; got $k")
    val a = ann
      .select(col(queryCol).as("query_id"),
        col(neighborCol).as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("_hit", lit(1L))
    exact
      .select(col(queryCol).as("query_id"),
        col(neighborCol).as("neighbor_id"))
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_exact"),
        sum(coalesce(col("_hit"), lit(0L))).cast("long").as("n_hits"))
      .select(col("query_id"), col("n_exact"), col("n_hits"),
        graft.functions.ExactRound.ratio(col("n_hits"), lit(k.toLong), 4)
          .as("recall_at_k"))
  }

  def precisionAtK(scored: DataFrame, k: Int = 10,
                   key: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("score").desc, col("date").asc)
    scored.withColumn("rnk", row_number().over(w))
      .groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("label")).cast("long").as("n_pos"),
        sum(when(col("rnk") <= k, col("label")).otherwise(0))
          .cast("long").as("hits"))
      .where(col("n_pos") > 0)
      .select(col(key), col("n_pos"), col("hits"),
        graft.functions.ExactRound.ratio(col("hits"),
          least(lit(k.toLong), col("n")), 4).as("precision_at"),
        graft.functions.ExactRound.ratio(col("hits"), col("n_pos"), 4)
          .as("recall_at"))
  }
}
