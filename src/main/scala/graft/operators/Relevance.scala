package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Corpus relevance scoring: TF-IDF over whitespace tokens. The
  * term-frequency and document-frequency aggregations are both partial
  * (map-side combine), the corpus size is a broadcast 1-row frame (no
  * driver-side collect in the plan), and the per-doc top-k is a window
  * over the doc partition — shuffles are by (doc, token), token, and
  * doc; nothing is ever quadratic or driver-bound.
  */
object Relevance {

  /** Unigram-LM perplexity per document — the relational core of the
    * perplexity quality filter (production pipelines score with a
    * KenLM-style n-gram model; the unigram case is exactly expressible
    * as corpus aggregation + join, no model artifact). The "language
    * model" is the corpus itself: p(tok) = count(tok)/total, per doc
    * cross-entropy = -mean ln p over its tokens, ppl = e^CE. Unusually
    * high ppl → gibberish/rare-vocab docs; unusually low → boilerplate
    * (pairs with [[graft.operators.Boilerplate]]).
    *
    * Determinism: per-token ln p is rounded (6dp) and summed as
    * DECIMAL(28,6) — exact and summation-order independent — and the
    * 4dp cross-entropy is rounded in EXACT INTEGER arithmetic
    * ([[ceMicrosToE4]]): the sum is lifted to micro-nat longs and
    * half-up divided, because round() on the double quotient is
    * engine-dependent exactly when the true ratio lands on a tie
    * (-s/n = x.xxxx5 — hit in the wild at sf0.1, where Spark's
    * BigDecimal HALF_UP of the nearest double gave 3.4063 and DuckDB
    * gave 3.4064). Perplexity exponentiates the 6dp (micro-nat)
    * integer rounding of CE, so both engines exponentiate the
    * identical double. Shuffles: token count (partial aggs), token-keyed
    * probability join, per-doc rollup — all linear. Docs with no
    * tokens surface with null scores. */
  def unigramPerplexity(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol),
        explode(graft.functions.TextFns.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "") // a blank doc splits to one "" token
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val logp = round(log(col("cnt").cast("double") /
        col("total").cast("double")), 6)
      .cast("decimal(28,6)")
    val perDoc = tok
      .join(vocab, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(logp).as("_sum_logp"))
      .select(col(idCol) +: col("n_tokens") +:
        ceAndPpl("_sum_logp", "n_tokens"): _*)
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("cross_entropy"), col("perplexity"))
  }

  /** The shared (cross_entropy, perplexity) projection, rounded in
    * EXACT INTEGER arithmetic: the decimal log-sum (scale 6) is lifted
    * to micro-nat longs (·10⁶ is exact; each |ln p| ≤ ~65 keeps the
    * sum ≪ Long range) and half-up divided — round(a/b) = (2a+b) div
    * 2b for a,b > 0 — to 4dp for the reported cross-entropy and to 6dp
    * (full micro-nat precision) as the exponent for perplexity. Both
    * engines then exponentiate the IDENTICAL double, and exp of a
    * nonzero rational is transcendental, so the final round(…, 4)
    * can never land on a decimal tie the way the raw -s/n quotient
    * did. */
  private def ceAndPpl(sumCol: String, nCol: String): Seq[Column] = {
    val su = (-col(sumCol) * 1000000).cast("long") // micro-nats, ≥ 0
    val n = col(nCol)
    val ce4 = call_function("div", su * 2 + n * 100, n * 200)
    val ce6 = call_function("div", su * 2 + n, n * 2)
    Seq((ce4.cast("double") / 10000).as("cross_entropy"),
      round(exp(ce6.cast("double") / 1000000), 4).as("perplexity"))
  }

  /** Bigram-LM perplexity — one rung up from [[unigramPerplexity]]:
    * p(w₂|w₁) = c(w₁w₂) / c(w₁ as prefix), per-doc cross-entropy over
    * its n−1 bigrams. Every bigram in scoring also exists in training
    * (corpus-as-model), so probabilities never need smoothing here; a
    * held-out variant would add it. Bigrams come from one lag window
    * per doc (a single (doc) shuffle), counts are partial aggs keyed by
    * (w₁,w₂) and w₁, and the same rounded-decimal log-sum makes the
    * score order-independent. Docs with <2 tokens → null scores. */
  def bigramPerplexity(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol),
        posexplode(graft.functions.TextFns.tokens(col(textCol)))
          .as(Seq("pos", "token")))
      .filter(col("token") =!= "")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val bigrams = tok
      .withColumn("w1", lag(col("token"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col(idCol), col("w1"), col("token").as("w2"))
    val pairCnt = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val prefixCnt = bigrams.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"))
    val logp = round(log(col("c2").cast("double") /
        col("c1").cast("double")), 6)
      .cast("decimal(28,6)")
    val perDoc = bigrams
      .join(pairCnt, Seq("w1", "w2"))
      .join(prefixCnt, Seq("w1"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(logp).as("_s"))
      .select(col(idCol) +: col("n_bigrams") +:
        ceAndPpl("_s", "n_bigrams"): _*)
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("cross_entropy"), col("perplexity"))
  }

  /** Trigram-LM perplexity — the last rung of the relational n-gram
    * ladder: p(w₃|w₁w₂) = c(w₁w₂w₃) / c(w₁w₂ as prefix) over each
    * doc's n−2 trigrams, same corpus-as-model closure (every scored
    * trigram exists in training) and the same order-independent
    * decimal log-sum. Two lags over one doc-keyed window — still a
    * single shuffle to build the grams. */
  def trigramPerplexity(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol),
        posexplode(graft.functions.TextFns.tokens(col(textCol)))
          .as(Seq("pos", "token")))
      .filter(col("token") =!= "")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val grams = tok
      .withColumn("w1", lag(col("token"), 2).over(w))
      .withColumn("w2", lag(col("token"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col(idCol), col("w1"), col("w2"), col("token").as("w3"))
    val triCnt = grams.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val prefixCnt = grams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val logp = round(log(col("c3").cast("double") /
        col("c2").cast("double")), 6)
      .cast("decimal(28,6)")
    val perDoc = grams
      .join(triCnt, Seq("w1", "w2", "w3"))
      .join(prefixCnt, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), sum(logp).as("_s"))
      .select(col(idCol) +: col("n_trigrams") +:
        ceAndPpl("_s", "n_trigrams"): _*)
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("cross_entropy"), col("perplexity"))
  }

  /** Top-`k` tokens per document by tf·idf (idf = ln(N/df); score desc,
    * token asc tiebreak). Output: (idCol, rank, token, tf, tfidf). */
  def tfIdfTopK(docs: DataFrame, k: Int = 5, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(graft.functions.TextFns.tokens(col(textCol))).as("token"))
    val tf = tok.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val byScore = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"),
        col("token"), col("tf").cast("long").as("tf"),
        round(col("score"), 6).as("tfidf"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets"): per language,
    * documents split into head/middle/tail by LM-perplexity quantiles
    * — the standard curation move that keeps the cleanest slice and
    * discards or down-weights the tail. Quantile cut points default
    * to exact quartiles (0.25/0.75 are exact binary fractions, so the
    * cross-engine `percentile`/`quantile_cont` bridge has no literal
    * drift). Docs with no tokens (null perplexity) bucket as "empty".
    *
    * Shuffles: the perplexity ladder's (linear, see
    * [[unigramPerplexity]]) plus one tiny per-group quantile aggregate
    * broadcast back — the q116/q120 gate shape. Exact relational
    * algebra end to end (q135 hash oracle). */
  def perplexityBuckets(docs: DataFrame, groupCol: String = "lang",
                        lowQ: Double = 0.25, highQ: Double = 0.75,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    require(lowQ > 0 && highQ < 1 && lowQ < highQ,
      "need 0 < lowQ < highQ < 1")
    val ppl = unigramPerplexity(docs, textCol, idCol)
      .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
    // quantiles over the e4-SCALED INTEGER perplexities: interpolating
    // the 4dp doubles directly lands on the 2.5e-5 grid, where a
    // final round(_, 4) ties (hit at sf0.1: hi 30.06885). Integer
    // inputs make the interpolated value an exact binary quarter, so
    // the /1e4 bounds are bit-identical cross-engine UNROUNDED, and
    // the bucket comparisons are exact.
    val bounds = ppl.filter(col("perplexity").isNotNull)
      .withColumn("_p4",
        round(col("perplexity") * 10000, 0).cast("long"))
      .groupBy(col(groupCol))
      .agg((expr(s"percentile(_p4, $lowQ)") / 10000.0).as("_lo"),
        (expr(s"percentile(_p4, $highQ)") / 10000.0).as("_hi"))
    ppl.join(broadcast(bounds), Seq(groupCol), "left")
      .withColumn("bucket",
        when(col("perplexity").isNull, "empty")
          .when(col("perplexity") <= col("_lo"), "head")
          .when(col("perplexity") <= col("_hi"), "middle")
          .otherwise("tail"))
      .select(col(idCol), col(groupCol), col("perplexity"),
        col("_lo").as("lo"), col("_hi").as("hi"), col("bucket"))
  }

  /** Per-group Zipf fit: least-squares slope of ln(freq) on ln(rank)
    * over the group's token frequency table — the vocabulary-health
    * diagnostic (natural language sits near slope −1; machine-generated
    * or template text flattens toward 0, token soup steepens). Output:
    * `(group, n_types, slope, intercept)`, 4dp.
    *
    * Scale shape: token counting is a partial-agg groupBy; ranking is
    * one window per group keyed (cnt DESC, token) — deterministic; the
    * regression is a per-group aggregate of four sums. Determinism is
    * the q87 scheme: per-point ln values are 6dp-rounded into DECIMAL
    * before summation (order-independent exact sums — products are
    * exact 12dp DECIMALs), then the closed-form slope runs in double
    * arithmetic on those identical inputs, so both engines emit the
    * identical 4dp value (q127 hash oracle). Single-type groups have
    * no slope (null). */
  def zipfSlope(docs: DataFrame, textCol: String = "text",
                groupCol: String = "source"): DataFrame = {
    val counts = docs.select(col(groupCol).as("g"),
        explode(graft.functions.TextFns.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("g"), col("token")).agg(count(lit(1)).as("cnt"))
    val ranked = counts.withColumn("rank", row_number().over(
      Window.partitionBy(col("g"))
        .orderBy(col("cnt").desc, col("token"))))
    def dec6(c: Column): Column = round(c, 6).cast("decimal(28,6)")
    val x = dec6(log(col("rank").cast("double")))
    val y = dec6(log(col("cnt").cast("double")))
    val agg = ranked.groupBy(col("g").as("source")).agg(
      count(lit(1)).as("n_types"),
      sum(x).as("_sx"), sum(y).as("_sy"),
      sum(x * y).as("_sxy"), sum(x * x).as("_sxx"))
    // closed form in double arithmetic over the exact decimal sums —
    // identical inputs and op order on both engines
    val n = col("n_types").cast("double")
    val (sx, sy) = (col("_sx").cast("double"), col("_sy").cast("double"))
    val (sxy, sxx) = (col("_sxy").cast("double"), col("_sxx").cast("double"))
    val den = n * sxx - sx * sx
    val slope = (n * sxy - sx * sy) / nullif(den, lit(0.0))
    agg.select(col("source"), col("n_types"),
      round(slope, 4).as("slope"),
      round((sy - slope * sx) / n, 4).as("intercept"))
  }

  /** Okapi BM25 retrieval scoring against a literal query (the
    * ranking function behind classic text search; Robertson &
    * Zaragoza 2009). The query is a compile-time token list, so every
    * per-token term is a NAMED COLUMN and the final score is a
    * fixed-order expression chain — no aggregation over
    * nondeterministically-ordered doubles, hence hash-portable.
    * idf uses the +1 form `ln(1 + (N − df + ½)/(df + ½))` (always
    * positive). `avgdl` is total tokens / total docs.
    *
    * Plan: one token explode → one per-doc aggregate (dl + one
    * conditional tf per query token) → one global stats row broadcast
    * back → pure-map scoring → top-k rank over the matching docs.
    * Linear in tokens; the stats row is O(|query|). */
  def bm25(docs: DataFrame, query: Seq[String], k1: Double = 1.2,
           b: Double = 0.75, topK: Int = 20, textCol: String = "text",
           idCol: String = "doc_id"): DataFrame = {
    require(query.nonEmpty, "need at least one query token")
    val tok = docs.select(col(idCol),
        explode(graft.functions.TextFns.tokens(col(textCol)))
          .as("token"))
      .where(col("token") =!= "")
    val perDoc = tok.groupBy(col(idCol))
      .agg(count(lit(1)).as("dl"),
        query.zipWithIndex.map { case (q, i) =>
          sum(when(col("token") === q, 1L).otherwise(0L)).as(s"tf_$i")
        }: _*)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val stats = perDoc.agg(
      sum(col("dl")).as("total_tokens"),
      query.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
        : _*)
      .crossJoin(broadcast(nDocs))
    val scored = perDoc.crossJoin(broadcast(stats))
    val avgdl = col("total_tokens").cast("double") / col("n_docs")
    val terms = query.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val df = col(s"df_$i").cast("double")
      val idf = log(lit(1.0) + (col("n_docs") - df + 0.5) / (df + 0.5))
      when(col(s"tf_$i") > 0,
        idf * tf * lit(k1 + 1) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
        .otherwise(lit(0.0))
    }
    scored
      .withColumn("score", round(terms.reduce(_ + _), 4))
      .where(col("score") > 0)
      .withColumn("rank", row_number().over(Window.orderBy(
        col("score").desc, col(idCol))).cast("long"))
      .where(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("score"),
        col("dl").as("doc_len"))
  }

  /** The expansion leg of [[prfExpansionTerms]] over an explicit
    * feedback set (`idCol`, `doc_len`) — split out so the gate can
    * STAGE the feedback docs (BM25 ranks on ln(), the transcendental
    * staging rule) and both engines replay only the integer tf/dl
    * algebra downstream. */
  def expansionFromFeedback(docs: DataFrame, feedback: DataFrame,
                            excludeTerms: Seq[String], fbTerms: Int,
                            textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    require(fbTerms >= 1, s"fbTerms must be >= 1; got $fbTerms")
    val fb = feedback.select(col(idCol), col("doc_len").cast("long")
      .as("_dl"))
    val tf = docs.join(fb, Seq(idCol), "left_semi")
      .select(col(idCol),
        explode(graft.functions.TextFns.tokens(col(textCol)))
          .as("term"))
      .where(col("term") =!= "" &&
        !col("term").isin(excludeTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("_tf"))
      .join(fb, Seq(idCol))
    tf.select(col("term"),
        graft.functions.ExactRound.scaled(col("_tf"), col("_dl"), 6)
          .as("_w6"))
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("n_fb_docs"),
        sum(col("_w6")).cast("long").as("weight6"))
      .withColumn("rank", row_number().over(Window.orderBy(
        col("weight6").desc, col("term"))).cast("long"))
      .where(col("rank") <= fbTerms)
      .select(col("term"), col("rank"), col("n_fb_docs"),
        col("weight6"),
        (col("weight6").cast("double") / 1e6).as("weight"))
  }

  /** Pseudo-relevance-feedback query expansion (the RM1/Bo1-shaped
    * tf-weighted variant made exactly replayable): run [[bm25]] for
    * `query`, take the top `fbDocs` docs as the feedback set, and
    * score every term they contain by `Σ_d round(10⁶·tf(w,d)/dl_d)` —
    * each addend an exact micro unit (the [[rrfFuse]] quantization
    * discipline: the micro grid IS the definition). Original query
    * terms are excluded; ties break lexicographically. Returns the
    * top `fbTerms`: (term, rank, n_fb_docs, weight6, weight) — union
    * them with the original query for the classic second BM25 pass.
    *
    * Scale: one BM25 pass, then everything is bounded by the fbDocs
    * feedback docs' token count; the rank window is
    * feedback-vocabulary-sized, never corpus-sized. */
  def prfExpansionTerms(docs: DataFrame, query: Seq[String],
                        fbDocs: Int = 10, fbTerms: Int = 5,
                        k1: Double = 1.2, b: Double = 0.75,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    require(fbDocs >= 1, s"fbDocs must be >= 1; got $fbDocs")
    expansionFromFeedback(docs,
      bm25(docs, query, k1, b, fbDocs, textCol, idCol)
        .select(col(idCol), col("doc_len")),
      query, fbTerms, textCol, idCol)
  }

  /** The RM3 interpolated query model (Abdul-Jaleel et al., TREC 2004):
    * original query terms weighted (1−α)/|Q|, [[prfExpansionTerms]]'s
    * feedback terms weighted α·w_t/Σw — returned as the STAGEABLE
    * weighted-term table `(term, w4, idf4)` the [[rm3Rescore]] second
    * pass consumes. Weights are exact 1e4 micro units; `idf4` is the
    * BM25 idf quantized to the same grid — the ONE transcendental
    * (ln), quantized HERE so the scoring pass and its oracle stay in
    * pure integer algebra (the q129 staging discipline: the grid is
    * the definition, and the staged table is the shared source of
    * truth both engines read). Driver-side work is two bounded
    * collects: the ≤`fbTerms` expansion rows and the ≤|terms| df
    * counts — never corpus rows. */
  def rm3WeightedTerms(docs: DataFrame, query: Seq[String],
                       fbDocs: Int = 10, fbTerms: Int = 5,
                       alpha: Double = 0.5,
                       k1: Double = 1.2, b: Double = 0.75,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(query.nonEmpty, "need at least one query token")
    require(alpha >= 0.0 && alpha <= 1.0,
      s"alpha must be in [0, 1]; got $alpha")
    val spark = docs.sparkSession
    import spark.implicits._
    val expansion = prfExpansionTerms(docs, query, fbDocs, fbTerms,
        k1, b, textCol, idCol)
      .select(col("term"), col("weight6"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val sumW6 = math.max(expansion.map(_._2).sum, 1L)
    val origW4 = math.round(1e4 * (1 - alpha) / query.size)
    // RM3's original-query model weights a term by its COUNT in the
    // query, so repeated query tokens fold into one row with summed
    // weight — the output contract is ONE ROW PER TERM (rm3Rescore
    // joins tf on this table; duplicate rows would fan tf out and
    // double-score the term)
    val weighted = (query.map(_ -> origW4) ++ expansion.map {
      case (t, w6) => t -> math.round(alpha * 1e4 * w6 / sumW6)
    }).groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)
    // one bounded df pass over the final term set (≤ |Q| + fbTerms)
    val terms = weighted.map(_._1)
    val dfs = docs
      .select(explode(array_distinct(
        graft.functions.TextFns.tokens(col(textCol)))).as("term"))
      .where(col("term").isin(terms.map(t => t: Any): _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = docs.count()
    weighted.map { case (t, w4) =>
      val df = dfs.getOrElse(t, 0L).toDouble
      (t, w4,
        math.round(1e4 * math.log(1 + (nDocs - df + 0.5) / (df + 0.5))))
    }.toDF("term", "w4", "idf4")
  }

  /** RM3 second-pass weighted BM25 over a [[rm3WeightedTerms]] table:
    * score12(d) = Σ_t w4·idf4·tfsat4(t,d) — a SUM OF EXACT LONGS, so
    * the ranking is order-independent and engine-portable (q359 hash
    * oracle) even though it realizes the classic float formula. The
    * saturation tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)) is an exact
    * RATIONAL at the fixed (k1, b) = (1.2, 3/4): with T = corpus token
    * count and N = doc count, it equals 44·tf·T / (20·tf·T + 6·T +
    * 18·dl·N) — all integers — rounded half-up to the 1e4 grid
    * ([[graft.functions.ExactRound.scaled]]). Overflow-safe while
    * 8.8e5·tf·T < 2⁶³ (max term frequency × corpus tokens below
    * ~1e13); shard-and-merge beyond.
    *
    * Scale shape: the term table broadcasts; one token scan feeds both
    * the dl rollup and the term-filtered tf rollup; the score is one
    * per-doc hash aggregation and the rank window is output-sized. */
  def rm3Rescore(docs: DataFrame, weightedTerms: DataFrame,
                 topK: Int = 10, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol),
        explode(graft.functions.TextFns.tokens(col(textCol)))
          .as("term"))
      .where(col("term") =!= "")
    val dl = tok.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    // same stats convention as [[bm25]]: N counts ALL docs, T sums
    // token counts over docs that have tokens
    val totals = dl.agg(sum(col("dl")).as("T"))
      .crossJoin(docs.agg(count(lit(1)).as("N")))
    // defensively fold duplicate term rows (sum w4 — RM3's additive
    // mixture; idf is per-term so max is the identity on clean input):
    // an un-folded duplicate would fan out the tf join AND score the
    // term once per row, silently double-counting it
    val wt = weightedTerms.select(col("term"),
        col("w4").cast("long").as("w4"),
        col("idf4").cast("long").as("idf4"))
      .groupBy(col("term"))
      .agg(sum(col("w4")).as("w4"), max(col("idf4")).as("idf4"))
    val tf = tok.join(broadcast(wt.select(col("term"))), Seq("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    tf.join(dl, Seq(idCol))
      .crossJoin(broadcast(totals))
      .join(broadcast(wt), Seq("term"))
      .withColumn("tfsat4", graft.functions.ExactRound.scaled(
        lit(44L) * col("tf") * col("T"),
        lit(20L) * col("tf") * col("T") + lit(6L) * col("T")
          + lit(18L) * col("dl") * col("N"), 4))
      .groupBy(col(idCol))
      .agg(sum(col("w4") * col("idf4") * col("tfsat4")).as("score12"))
      .where(col("score12") > 0)
      .withColumn("rank", row_number().over(Window.orderBy(
        col("score12").desc, col(idCol))).cast("long"))
      .where(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("score12").cast("long")
        .as("score12"),
        (col("score12").cast("double") / 1e12).as("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * combine any number of ranked lists by `Σ 1/(k + rank_i)` — the
    * standard hybrid-search combiner for a lexical leg ([[bm25]]) and
    * a semantic leg ([[Similarity.bruteForceTopK]] / the ANN paths)
    * because it needs NO score calibration between legs, only ranks.
    * A document absent from a leg contributes 0 (the standard
    * convention); ties break by id.
    *
    * Exactness: each term is quantized half-up to an exact micro unit
    * `round(10⁶/(k+rank))` through the [[graft.functions.ExactRound]]
    * integer bridge, so the fused score is a SUM OF EXACT LONGS —
    * order-independent and engine-portable (the double sum
    * `1/61 + 1/62 + …` never terminates in binary and its rounding is
    * summation-order dependent). Quantization error ≤ 5·10⁻⁷ per term
    * — three orders below the k=60 term GAPS that determine ranks.
    *
    * Scale: the inputs are per-query top-k lists (topK-bounded, never
    * corpus-bounded), so the union + hash aggregate + the single
    * unpartitioned rank window all run over ≤ Σ legs·topK rows — the
    * window is NOT a corpus-scale sort. For a multi-query batch, call
    * per query or extend the window with the query-id partition key. */
  /** Multi-query [[rrfFuse]]: the same exact micro-unit fusion
    * algebra applied PER QUERY — the aggregate keys on (query, doc)
    * and the rank window partitions by `queryCol`, so the shuffle
    * keys on query id and every window partition is shortlist-sized
    * (this was rrfFuse's documented scale extension; now implemented
    * and graded — q343). Legs carry (queryCol, idCol, rankCol) top-k
    * frames, e.g. two ANN paths over the same query batch. */
  def rrfFuseByQuery(legs: Seq[DataFrame], k: Int = 60, topK: Int = 20,
                     queryCol: String = "query_id",
                     idCol: String = "doc_id",
                     rankCol: String = "rank"): DataFrame = {
    require(legs.nonEmpty, "need at least one ranked leg")
    require(k >= 1, s"rrf smoothing k must be >= 1; got $k")
    val slim = legs.map(df => df.select(col(queryCol), col(idCol),
      col(rankCol).cast("long").as("_r")))
    val rGuard = when(col("_r").isNull || col("_r") < 1,
      raise_error(concat(lit("rrfFuseByQuery: rank must be >= 1; got "),
        col("_r").cast("string")))).otherwise(col("_r"))
    val term6 = graft.functions.ExactRound.scaled(
      lit(1L), lit(k.toLong) + rGuard, 6)
    slim.reduce(_ unionByName _)
      .groupBy(col(queryCol), col(idCol))
      .agg(count(lit(1)).cast("long").as("n_legs"),
        sum(term6).cast("long").as("_s6"),
        min(col("_r")).as("best_rank"))
      .withColumn("fused_rank", row_number().over(Window
        .partitionBy(col(queryCol))
        .orderBy(col("_s6").desc, col(idCol).asc)).cast("long"))
      .where(col("fused_rank") <= topK)
      .select(col(queryCol), col(idCol), col("fused_rank"),
        (col("_s6").cast("double") / 1e6).as("rrf_score"),
        col("n_legs"), col("best_rank"))
  }

  /** The RBO per-depth micro-int weights `u6(d) = round(10⁶·(1−p)·
    * p^(d−1)/d)` and their suffix sums `S(m) = Σ_{d=m..k} u6(d)` —
    * GENERATED ONCE in the JVM and embedded as literals in both the
    * plan and the oracle SQL (the [[ModelEval.ndcgDiscounts]]
    * discipline: no engine evaluates pow() at query time). */
  private[graft] def rboDepthWeights(k: Int, p: Double): IndexedSeq[Long] =
    (1 to k).map(d => math.round(1e6 * (1 - p) *
      math.pow(p, d - 1) / d))

  private[graft] def rboSuffix(k: Int, p: Double): IndexedSeq[Long] = {
    val w = rboDepthWeights(k, p)
    w.indices.map(m => w.drop(m).sum)
  }

  /** Rank-biased overlap @k (Webber, Moffat & Zobel 2010), the
    * standard top-weighted "how similar are two rankings" metric —
    * the retrieval-eval complement of [[rrfFuse]] (which COMBINES
    * runs; RBO measures their agreement, e.g. lexical vs semantic
    * legs before deciding fusion is worth it, or an ANN run vs its
    * exact baseline beyond set-overlap recall).
    *
    * Definition used (truncated RBO@k): `Σ_{d=1..k} u6(d)·ov(d)`
    * where `ov(d) = |A_{1..d} ∩ B_{1..d}|` and `u6(d)` is the
    * generated micro-int weight (1−p)p^(d−1)/d. Since a doc present
    * in both runs contributes to every depth `d ≥ max(rA,rB)`, the
    * sum collapses to one SUFFIX-SUM LOOKUP per common doc — exact
    * LONG algebra, no per-depth pass, engine-replayable. The micro
    * quantization (≤5e-7 per depth) is the deterministic definition
    * both engines replay; it is not a float approximation of one.
    *
    * Scale: inputs are top-k lists (k-bounded, never corpus-bounded);
    * one k-row hash join + one aggregate. Multi-query batches: call
    * per query or add a query-id join/group key. Ranks must be ≥ 1
    * (raise_error, the rrfFuse guard); rows beyond k are ignored. */
  def rboAtK(runA: DataFrame, runB: DataFrame, k: Int = 20,
             p: Double = 0.9, idCol: String = "doc_id",
             rankCol: String = "rank"): DataFrame = {
    require(k >= 1 && k <= 1000, s"need 1 <= k <= 1000; got $k")
    require(p > 0 && p < 1, s"need 0 < p < 1; got $p")
    val s = rboSuffix(k, p)
    def leg(df: DataFrame, out: String) = {
      val r = col(rankCol).cast("long")
      val guarded = when(r.isNull || r < 1,
        raise_error(concat(lit(s"rboAtK: $rankCol must be >= 1; got "),
          r.cast("string")))).otherwise(r)
      df.select(col(idCol), guarded.as(out)).where(col(out) <= k)
    }
    leg(runA, "_ra").join(leg(runB, "_rb"), Seq(idCol))
      .select(greatest(col("_ra"), col("_rb")).as("_m"))
      .agg(count(lit(1)).cast("long").as("n_both"),
        coalesce(sum(element_at(array(s.map(lit): _*),
          col("_m").cast("int"))), lit(0L)).cast("long").as("rbo6"))
      .select(col("n_both"), col("rbo6"),
        (col("rbo6").cast("double") / 1e6).as("rbo"))
  }

  /** Multi-query [[rboAtK]]: the same suffix-weight algebra per
    * query — the join keys on (query, doc) and the aggregate on
    * query, every group k-bounded. The per-query rank-agreement
    * readout between two retrieval runs over a query batch (e.g. how
    * much int8 quantization PERTURBS each query's ranking, beyond
    * what set-overlap recall shows — q344). A query whose runs share
    * NO docs drops from the output (its RBO is 0) — left-join the
    * query list back if explicit zero rows are wanted. */
  def rboByQuery(runA: DataFrame, runB: DataFrame, k: Int = 20,
                 p: Double = 0.9, queryCol: String = "query_id",
                 idCol: String = "doc_id",
                 rankCol: String = "rank"): DataFrame = {
    require(k >= 1 && k <= 1000, s"need 1 <= k <= 1000; got $k")
    require(p > 0 && p < 1, s"need 0 < p < 1; got $p")
    val s = rboSuffix(k, p)
    def leg(df: DataFrame, out: String) = {
      val r = col(rankCol).cast("long")
      val guarded = when(r.isNull || r < 1,
        raise_error(concat(lit(s"rboByQuery: $rankCol must be >= 1; " +
          "got "), r.cast("string")))).otherwise(r)
      df.select(col(queryCol), col(idCol), guarded.as(out))
        .where(col(out) <= k)
    }
    leg(runA, "_ra").join(leg(runB, "_rb"), Seq(queryCol, idCol))
      .select(col(queryCol), greatest(col("_ra"), col("_rb")).as("_m"))
      .groupBy(col(queryCol))
      .agg(count(lit(1)).cast("long").as("n_both"),
        sum(element_at(array(s.map(lit): _*),
          col("_m").cast("int"))).cast("long").as("rbo6"))
      .select(col(queryCol), col("n_both"), col("rbo6"),
        (col("rbo6").cast("double") / 1e6).as("rbo"))
  }

  /** Kendall τ rank correlation per query between two top-k runs —
    * the ORDER-correlation sibling of [[rboByQuery]] (RBO weights the
    * top of the list; τ counts every pairwise inversion equally):
    * τ = (C − D) / (s(s−1)/2) over the s docs the runs share, with
    * C/D the concordant/discordant pair counts. Ranks within a run
    * are distinct by contract (top-k output, the rrfFuse input rule),
    * so there are no ties and τ-a coincides with τ-b.
    *
    * Exact integer pair counts; the reported 4dp τ goes through the
    * SIGNED half-up bridge ([[graft.functions.ExactRound.signedRatio]]
    * — Spark `div` truncates where DuckDB `//` floors, and a negative
    * τ tie is exactly where they disagree). Scale: shared docs are
    * k-bounded per query, so the pair self-join is ≤ k(k−1)/2 rows
    * per query — shortlist algebra, never corpus work. Queries
    * sharing < 2 docs drop (τ undefined on < 1 pair); left-join the
    * query list back if explicit rows are wanted. */
  def kendallTauByQuery(runA: DataFrame, runB: DataFrame, k: Int = 20,
                        queryCol: String = "query_id",
                        idCol: String = "doc_id",
                        rankCol: String = "rank"): DataFrame = {
    require(k >= 1 && k <= 1000, s"need 1 <= k <= 1000; got $k")
    def leg(df: DataFrame, out: String) = {
      val r = col(rankCol).cast("long")
      val guarded = when(r.isNull || r < 1,
        raise_error(concat(lit(s"kendallTauByQuery: $rankCol must " +
          "be >= 1; got "), r.cast("string")))).otherwise(r)
      df.select(col(queryCol), col(idCol), guarded.as(out))
        .where(col(out) <= k)
    }
    val shared = leg(runA, "_ra").join(leg(runB, "_rb"),
      Seq(queryCol, idCol))
    val a = shared.select(col(queryCol), col(idCol).as("_ida"),
      col("_ra").as("_raa"), col("_rb").as("_rba"))
    val b = shared.select(col(queryCol), col(idCol).as("_idb"),
      col("_ra").as("_rab"), col("_rb").as("_rbb"))
    val conc = (col("_raa") - col("_rab")) *
      (col("_rba") - col("_rbb")) > 0
    val pairAgg = a.join(b, Seq(queryCol))
      .where(col("_ida") < col("_idb"))
      .groupBy(col(queryCol))
      .agg(sum(when(conc, 1L).otherwise(0L)).cast("long")
          .as("n_concordant"),
        sum(when(conc, 0L).otherwise(1L)).cast("long")
          .as("n_discordant"))
    shared.groupBy(col(queryCol))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .where(col("n_shared") >= 2)
      .join(pairAgg, Seq(queryCol))
      .select(col(queryCol), col("n_shared"), col("n_concordant"),
        col("n_discordant"),
        // τ = 2(C−D) / (s(s−1)) keeps the denominator integral
        graft.functions.ExactRound.signedRatio(
          (col("n_concordant") - col("n_discordant")) * 2,
          col("n_shared") * (col("n_shared") - 1), 4).as("tau"))
  }

  def rrfFuse(legs: Seq[DataFrame], k: Int = 60, topK: Int = 20,
              idCol: String = "doc_id", rankCol: String = "rank")
      : DataFrame = {
    require(legs.nonEmpty, "need at least one ranked leg")
    require(k >= 1, s"rrf smoothing k must be >= 1; got $k")
    val slim = legs.map(df =>
      df.select(col(idCol), col(rankCol).cast("long").as("_r")))
    // ranks must be positive: the ExactRound bridge requires den > 0,
    // and a rank ≤ −k would otherwise divide by zero (ANSI error) or
    // silently drop a null term from the sum (non-ANSI). Fail loudly
    // — the check is one branch per (bounded) leg row.
    val rGuard = when(col("_r").isNull || col("_r") < 1,
      raise_error(concat(lit("rrfFuse: rank must be >= 1; got "),
        col("_r").cast("string")))).otherwise(col("_r"))
    val term6 = graft.functions.ExactRound.scaled(
      lit(1L), lit(k.toLong) + rGuard, 6)
    slim.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_legs"),
        sum(term6).cast("long").as("_s6"),
        min(col("_r")).as("best_rank"))
      .withColumn("fused_rank", row_number().over(Window.orderBy(
        col("_s6").desc, col(idCol).asc)).cast("long"))
      .where(col("fused_rank") <= topK)
      .select(col(idCol), col("fused_rank"),
        (col("_s6").cast("double") / 1e6).as("rrf_score"),
        col("n_legs"), col("best_rank"))
  }

  /** Per-document lexical diversity: type/token ratio, hapax ratio
    * (both in ExactRound integer arithmetic) and the unigram
    * self-entropy of the document — Σ c/n·ln(n/c) computed with the
    * micro-nat DECIMAL bridge and exact half-up division (the
    * perplexity-family rounding scheme, so the reported 4dp entropy
    * cannot land on an engine-dependent tie). Two aggregates, both
    * keyed by doc — linear, co-partitioned. */
  def lexicalDiversity(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol),
        explode(graft.functions.TextFns.tokens(col(textCol)))
          .as("token"))
      .where(col("token") =!= "")
    val tf = tok.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("c"))
    val totals = tf.groupBy(col(idCol))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    // width-safe decimal product: DECIMAL(12,0) × DECIMAL(10,6) =
    // DECIMAL(22,6) — exact in BOTH engines (a 28,6×28,6 product
    // overflows DuckDB's 38-digit multiply)
    val term = (col("c").cast("decimal(12,0)") *
      round(log(col("c").cast("double") / col("n")), 6)
        .cast("decimal(10,6)")).cast("decimal(28,6)")
    val summed = tf.join(totals, Seq(idCol))
      .withColumn("_t", term)
      .groupBy(col(idCol))
      .agg(max(col("n")).as("n"), max(col("n_types")).as("n_types"),
        max(col("n_hapax")).as("n_hapax"), sum(col("_t")).as("_s"))
    val su = (-col("_s") * 1000000).cast("long") // micro-nats, ≥ 0
    val h4 = call_function("div", su * 2 + col("n") * 100,
      col("n") * 200)
    val scoredAll = summed.select(col(idCol),
      col("n").cast("long").as("n_tokens"), col("n_types"),
      col("n_hapax"),
      graft.functions.ExactRound.ratio(col("n_types"), col("n"), 6)
        .as("ttr"),
      graft.functions.ExactRound.ratio(col("n_hapax"),
        col("n_types"), 6).as("hapax_ratio"),
      (h4.cast("double") / 10000).as("entropy"))
    docs.select(col(idCol)).join(scoredAll, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        col("ttr"), col("hapax_ratio"), col("entropy"))
  }

  /** Per-document CHARACTER-level Shannon entropy (nats) + a keep gate —
    * the cheap binary/gibberish filter run before any tokenization
    * (compressed blobs and key-mash read ≪ natural text's ~2.8 nats;
    * repeated-char spam reads near 0). Same micro-nat state and exact
    * half-up division as [[lexicalDiversity]], so the 4dp entropy and
    * the threshold comparison are engine-exact (q182 hash-pinned).
    * The state comes from the fused native kernel
    * ([[graft.plans.CharEntropyState]]) in ONE map-side pass: a
    * relational per-CHARACTER explode + two hash aggregates multiplies
    * rows by mean doc length, so at corpus scale this is the
    * difference between a linear scan and shuffling ~1k× the corpus
    * row count. */
  def charEntropy(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id",
                  minEntropy: Double = 2.0): DataFrame = {
    val base = docs.select(col(idCol),
      graft.plans.CharEntropyExpressions.charEntropyState(col(textCol))
        .as("_s"))
    val n = col("_s.n"); val su = col("_s.su")
    val h4 = call_function("div", su * 2 + n * 100, n * 200)
    val entropy = when(n > 0, h4.cast("double") / 10000)
    base.select(col(idCol),
      coalesce(n, lit(0L)).as("n_chars_counted"),
      coalesce(col("_s.nd"), lit(0L)).as("n_distinct_chars"),
      entropy.as("entropy"),
      coalesce(entropy >= minEntropy, lit(false)).as("keep"))
  }

  /** Out-of-vocabulary rate per document against the corpus' own
    * top-`vocabSize` token vocabulary (count desc, token asc tiebreak
    * — a total order, so the vocab set is engine-exact): the share of
    * a doc's token OCCURRENCES outside the vocab. High OOV flags
    * boilerplate-free but alien text (code, other languages, OCR
    * noise) that per-doc entropy misses. Two shuffles — token counts
    * (two-phase), then the per-doc rollup; the bounded vocab joins
    * broadcast. */
  def oovRate(docs: DataFrame, vocabSize: Int = 1000,
              textCol: String = "text",
              idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(graft.functions.TextFns.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
    val vocab = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"))
    val flagged = toks.join(broadcast(vocab.withColumn("_v", lit(1))),
      Seq("token"), "left")
    val per = flagged.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_v").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_oov"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        graft.functions.ExactRound.ratio(coalesce(col("n_oov"), lit(0L)),
          greatest(coalesce(col("n_tokens"), lit(0L)), lit(1L)), 4)
          .as("oov_rate"))
  }

  /** N-gram novelty per document: the share of a doc's distinct
    * n-grams whose FIRST corpus occurrence (min doc id — the
    * ingestion-order proxy) is this doc. The novelty curve over doc
    * ids shows where a crawl stops contributing new content — the
    * "should we keep scraping this source" signal. One gram-keyed
    * shuffle (first-occurrence min) + one per-doc rollup, linear in
    * grams. */
  def gramNovelty(docs: DataFrame, n: Int = 2,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val grams = docs.select(col(idCol),
      explode(graft.functions.TextFns.shingles(col(textCol), n))
        .as("g"))
    val first = grams.groupBy(col("g"))
      .agg(min(col(idCol)).as("first_id"))
    val per = grams.join(first, Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("first_id") === col(idCol)).cast("long")).cast("long")
          .as("n_novel"))
    docs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        graft.functions.ExactRound.ratio(
          coalesce(col("n_novel"), lit(0L)),
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)), 4)
          .as("novelty"))
  }

  /** Corpus token-concentration (Lorenz) table: docs ranked by token
    * count DESC (doc-id tiebreak → total order), cut into `buckets`
    * ntiles, with per-bucket doc/token counts and the CUMULATIVE token
    * share — "the top 10% of docs hold X% of the tokens", the planning
    * number behind budget caps and packing shard sizing. All-integer
    * plus bridge ratios. The ntile runs scale-safely as
    * [[Ranks.distributedNtile]] (two-phase row_number + closed-form
    * bucket — exact ntile semantics, no corpus-scale single-partition
    * window); the cumulative window runs over the bounded bucket
    * table. */
  def tokenLorenz(docs: DataFrame, buckets: Int = 10,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val base = docs.select(col(idCol),
      graft.functions.TextFns.tokenCount(col(textCol)).cast("long")
        .as("n_tok"))
    val t = Ranks.distributedNtile(base,
        Seq(col("n_tok").desc, col(idCol).asc), buckets, "bucket")
      .withColumn("bucket", col("bucket").cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t.withColumn("cum_tokens", sum(col("n_tokens")).over(cum)
        .cast("long"))
      .withColumn("_total", sum(col("n_tokens")).over(tot).cast("long"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("cum_tokens"),
        graft.functions.ExactRound.ratio(col("cum_tokens"),
          greatest(col("_total"), lit(1L)), 4).as("cum_share"))
  }

  /** Pointwise mutual information over within-document token
    * co-occurrence: for token pair (a, b),
    * `pmi = ln(n_docs · df_ab / (df_a · df_b))` on DOCUMENT
    * frequencies (binary per doc — the collocation-mining convention).
    *
    * Plan: distinct (doc, token) → doc-keyed self-join (a < b) for
    * pair document counts — the pair fan-out is quadratic in DISTINCT
    * TOKENS PER DOC (bounded by doc length, never corpus size), pinned
    * at explicit parallelism like every pair generator; token df is a
    * vocabulary-sized aggregate broadcast onto the pair frame.
    * `minPairDocs` keeps the tail out (and at volume it is also the
    * correctness gate a collocation miner needs anyway). The single
    * `ln` of an integer ratio rounds at 4dp with no decimal-tie
    * exposure (log of a rational is irrational except ratio=1). */
  def pmiPairs(docs: DataFrame, minPairDocs: Int = 5,
               textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol),
        explode(graft.functions.TextFns.tokens(col(textCol)))
          .as("token"))
      .where(col("token") =!= "")
      .distinct()
    val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    SkewTools.selfPairs(tok, Seq(idCol), Seq("token"))
      .groupBy(col("token_a"), col("token_b"))
      .agg(count(lit(1)).as("df_ab"))
      .where(col("df_ab") >= minPairDocs)
      .join(broadcast(dfreq.select(col("token").as("token_a"),
        col("df").as("df_a"))), Seq("token_a"))
      .join(broadcast(dfreq.select(col("token").as("token_b"),
        col("df").as("df_b"))), Seq("token_b"))
      .crossJoin(broadcast(n))
      .select(col("token_a"), col("token_b"),
        col("df_ab"), col("df_a"), col("df_b"),
        round(log(col("n_docs").cast("double") * col("df_ab")
          / (col("df_a") * col("df_b"))), 4).as("pmi"))
  }

  /** Per-source vocabulary-richness profile: vocab size V, token
    * count N, hapax count/rate, and Yule's K
    * `10⁴·(Σ_m m²·V(m) − N)/N²` — the repeat-rate constant that is
    * invariant to corpus length, so sources of different sizes
    * compare honestly. All moments are exact integers off one
    * (source, token) aggregate; two bridge ratios at the end.
    * Two-phase shuffle: (source, token) then source — linear, the
    * classic word-count shape. */
  def vocabRichness(docs: DataFrame, textCol: String = "text",
                    groupCol: String = "source"): DataFrame = {
    val tok = docs.select(col(groupCol).as("grp"),
        explode(TextFns.tokens(TextFns.lower(col(textCol))))
          .as("token"))
      .where(col("token") =!= "")
    val tf = tok.groupBy(col("grp"), col("token"))
      .agg(count(lit(1)).cast("long").as("m"))
    tf.groupBy(col("grp"))
      .agg(count(lit(1)).cast("long").as("vocab"),
        sum(col("m")).cast("long").as("n_tokens"),
        sum(when(col("m") === 1, 1L).otherwise(0L)).cast("long")
          .as("hapax"),
        sum(col("m").cast("decimal(38,0)") * col("m")).as("smv"))
      .select(col("grp").as("source"), col("vocab"), col("n_tokens"),
        col("hapax"),
        graft.functions.ExactRound.ratio(col("hapax"), col("vocab"), 4)
          .as("hapax_rate"),
        // K's moments overflow a long at corpus scale — DECIMAL(38,0)
        // here, HUGEINT in the oracle
        graft.functions.ExactRound.signedRatio(
          (col("smv") - col("n_tokens")) * 10000,
          col("n_tokens").cast("decimal(38,0)") * col("n_tokens"), 4)
          .as("yule_k"))
  }

  /** Template detection by shared document prefix: groups of docs
    * opening with the same first `prefixLen` characters (emitted only
    * when ≥ `minDocs` share it) — the cheap screen for boilerplate-
    * templated content (auto-generated pages, form letters) that
    * shingle dedup underweights when bodies diverge. One hash
    * aggregate on the prefix. */
  def templateGroups(docs: DataFrame, prefixLen: Int = 40,
                     minDocs: Int = 2, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    docs.select(col(idCol).as("id"),
        substring(col(textCol), 1, prefixLen).as("prefix"))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("id")).cast("long").as("first_doc"))
      .where(col("n_docs") >= minDocs)
  }

  /** Heaps-law vocabulary growth: the corpus in `buckets` doc_id-
    * ordered slices, each with its token volume, the NEW types it
    * introduces (first-occurrence attribution), and the cumulative
    * vocabulary — sub-linear growth is the healthy-corpus signature;
    * a late linear tail reads as noise/gibberish injection. Two
    * two-phase aggregates sharing the token key. */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(idCol).asc)
    val bucketed = docs
      .withColumn("bucket", ntile(buckets).over(w).cast("long"))
    val tok = bucketed.select(col("bucket"), col(idCol).as("id"),
        explode(TextFns.tokens(TextFns.lower(col(textCol))))
          .as("token"))
      .where(col("token") =!= "")
    val vol = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_tokens"))
    val intro = tok.groupBy(col("token"))
      .agg(min(col("bucket")).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_new_types"))
    val cum = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    vol.join(intro, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_types",
        sum(col("n_new_types")).over(cum).cast("long"))
  }

  /** Term burstiness table: for the `topK` highest-df terms (df desc,
    * term asc — deterministic), the Fano factor of per-doc counts
    * over ALL docs `F = (D·Σc² − N²)/((D−1)·N)` — F≈1 means the term
    * sprinkles Poisson-like; F≫1 means it clumps into few docs
    * (topical). Zero-docs enter through the moments, not a dense
    * join: Σc² only needs occurrence docs. Exact integer moments,
    * one signed bridge. */
  def burstiness(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id", topK: Int = 50,
                 minDf: Int = 5): DataFrame = {
    val d = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    val tok = docs.select(col(idCol).as("id"),
        explode(TextFns.tokens(TextFns.lower(col(textCol))))
          .as("token"))
      .where(col("token") =!= "")
    val perDoc = tok.groupBy(col("token"), col("id"))
      .agg(count(lit(1)).cast("long").as("c"))
    val perTerm = perDoc.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("df"),
        sum(col("c")).cast("long").as("n"),
        sum(col("c") * col("c")).cast("long").as("ssq"))
      .where(col("df") >= minDf)
    // orderBy+limit plans as TakeOrderedAndProject — per-partition
    // partial top-k, no global sort exchange
    perTerm.orderBy(col("df").desc, col("token").asc).limit(topK)
      .crossJoin(broadcast(d))
      .select(col("token"), col("df"), col("n").as("n_occurrences"),
        graft.functions.ExactRound.signedRatio(
          col("n_docs").cast("decimal(38,0)") * col("ssq") -
            col("n").cast("decimal(38,0)") * col("n"),
          (col("n_docs") - 1).cast("decimal(38,0)") * col("n"), 4)
          .as("fano"))
  }
}
