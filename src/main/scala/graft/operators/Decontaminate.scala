package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Benchmark decontamination: flag corpus documents whose n-gram
  * shingles overlap an evaluation set (the standard "remove test-set
  * leakage before pretraining" pass).
  *
  * Scale shape: the benchmark index is tiny next to the corpus (eval
  * sets are MBs against 100 TB), so its distinct-shingle set is
  * BROADCAST — the corpus streams through a map-side hash probe with no
  * shuffle of corpus bytes; the only exchange is the per-doc hit count
  * rollup, which is one row per (doc, hit) — bounded by hits, not by
  * corpus size. Never join the corpus's exploded shingles shuffle-side
  * against an eval set: that shuffles the whole corpus by shingle.
  */
object Decontaminate {

  /** Per-corpus-doc contamination stats against `benchmark`:
    * (id, n_shingles, n_hit, contamination ∈ [0,1], contaminated 0/1).
    * Shingle sets are distinct per doc, so the post-probe count IS the
    * distinct-overlap count. Shingle-less docs are clean by definition. */
  def contaminationStats(corpus: DataFrame, benchmark: DataFrame,
                         n: Int = 2, threshold: Double = 0.5,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    // ONE shingle pass over the corpus: bind the array, carry its size
    // through explode_outer (the null row keeps shingle-less docs), and
    // LEFT-probe the broadcast index — a second plan branch would
    // re-shingle the whole corpus (measured 2× at scale)
    val exploded = corpus
      .select(col(idCol), TextFns.shingles(col(textCol), n).as("sh"))
      .select(col(idCol),
        coalesce(size(col("sh")), lit(0)).cast("long").as("n_shingles"),
        explode_outer(col("sh")).as("shingle"))
    val benchIndex = benchmark
      .select(explode(TextFns.shingles(col(textCol), n)).as("shingle"))
      .distinct()
      .withColumn("_hit", lit(1))
    val frac = col("n_hit").cast("double") /
      greatest(col("n_shingles"), lit(1L))
    exploded
      .join(broadcast(benchIndex), Seq("shingle"), "left")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(col("_hit")).as("n_hit"))
      .select(col(idCol), col("n_shingles"), col("n_hit"),
        round(frac, 6).as("contamination"),
        when(frac >= threshold, 1L).otherwise(0L).as("contaminated"))
  }

  /** The decontaminated corpus: drop docs at/above the threshold. */
  def clean(corpus: DataFrame, benchmark: DataFrame, n: Int = 2,
            threshold: Double = 0.5, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    corpus.join(
      contaminationStats(corpus, benchmark, n, threshold, textCol, idCol)
        .filter(col("contaminated") === 1L).select(col(idCol)),
      Seq(idCol), "left_anti")

  // ---------------------------------------------------------------------
  // Exact-substring span decontamination (the ExactSubstr shape of Lee et
  // al. 2022, "Deduplicating Training Data Makes Language Models Better"):
  // instead of scoring whole documents by shingle overlap, find every
  // MAXIMAL token span of length >= minTokens that appears verbatim in
  // the benchmark, and surgically remove the spans — the document
  // survives minus the leaked passage.
  //
  // Relational decomposition (no suffix array needed at the span level):
  // a token span of length >= L appears verbatim iff every one of its
  // length-L windows appears verbatim. Probing POSITIONAL L-grams
  // against the benchmark's L-gram set and merging overlapping/adjacent
  // hit windows (gaps-and-islands over start positions) yields the
  // maximal CONTIGUOUS MATCHED-TOKEN REGIONS: every token in a span is
  // covered by at least one verbatim >= L-token match — exactly the
  // guarantee span REMOVAL needs. A reported span is not itself claimed
  // to be one verbatim match: two distinct matches that abut or overlap
  // coalesce into one region (n_spans counts regions, not matches).
  //
  // Scale shape: L-gram construction is map-side (O(L) per token, bound
  // tokens — never re-tokenized per element); the benchmark L-gram set is
  // broadcast like contaminationStats' index; the only exchange carries
  // HIT windows (bounded by leakage, not corpus size), shuffled by doc
  // for the island merge.
  // ---------------------------------------------------------------------

  /** Positional L-gram array over a BOUND token-array column: element i =
    * tokens[i..i+L-1] joined by a single space; empty when the doc has
    * fewer than L tokens (the sequence would otherwise run descending). */
  private def posGrams(w: org.apache.spark.sql.Column, minTokens: Int) =
    when(size(w) >= minTokens,
      transform(sequence(lit(0), size(w) - minTokens),
        i => array_join(slice(w, i + 1, lit(minTokens)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Gaps-and-islands merge of hit windows into maximal spans: a hit
    * window extends the current span when it starts at or before
    * (previous furthest end)+1; else a new span opens. `hits` carries
    * (idCol, n_tokens, pos); output (idCol, n_tokens, span_start,
    * span_end), 0-based inclusive token positions. */
  private def mergeIslands(hits: DataFrame, L: Int,
                           idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevMaxEnd = max(col("pos") + (L - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("_brk",
        when(prevMaxEnd.isNull || prevMaxEnd < col("pos") - 1, 1L)
          .otherwise(0L))
      .withColumn("_island", sum(col("_brk")).over(byDoc))
      .groupBy(col(idCol), col("n_tokens"), col("_island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (L - 1)).cast("long").as("span_end"))
      .drop("_island")
  }

  /** Positional-gram frame over `docs`: (idCol, n_tokens, pos, gram),
    * tokens bound once (never re-tokenized per element). */
  private def gramFrame(docs: DataFrame, L: Int, textCol: String,
                        idCol: String): DataFrame =
    docs
      .select(col(idCol), TextFns.tokens(col(textCol)).as("_w"))
      .select(col(idCol), size(col("_w")).cast("long").as("n_tokens"),
        posexplode(posGrams(col("_w"), L)).as(Seq("pos", "gram")))

  /** Maximal matched spans per corpus doc: (idCol, n_tokens, span_start,
    * span_end) with 0-based inclusive token positions. Docs without any
    * match emit no row (see [[exactSubstrStats]] for the padded frame). */
  def exactSubstrSpans(corpus: DataFrame, benchmark: DataFrame,
                       minTokens: Int = 10, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val L = minTokens
    val grams = gramFrame(corpus, L, textCol, idCol)
    val benchIndex = benchmark
      .select(TextFns.tokens(col(textCol)).as("_w"))
      .select(explode(posGrams(col("_w"), L)).as("gram"))
      .distinct()
    val hits = grams.join(broadcast(benchIndex), Seq("gram"))
      .select(col(idCol), col("n_tokens"), col("pos"))
    mergeIslands(hits, L, idCol)
  }

  /** Per-doc span statistics over the WHOLE corpus (clean docs included,
    * zero-padded): (idCol, n_tokens, n_spans, tokens_flagged,
    * flagged_ratio). */
  def exactSubstrStats(corpus: DataFrame, benchmark: DataFrame,
                       minTokens: Int = 10, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    spanStats(corpus,
      exactSubstrSpans(corpus, benchmark, minTokens, textCol, idCol),
      textCol, idCol)

  /** Zero-padded per-doc rollup of a span frame. */
  private def spanStats(corpus: DataFrame, spans: DataFrame,
                        textCol: String, idCol: String): DataFrame = {
    val perDoc = spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1L)
          .as("tokens_flagged"))
    corpus
      .select(col(idCol),
        size(TextFns.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("tokens_flagged"), lit(0L)).as("tokens_flagged"),
        round(coalesce(col("tokens_flagged"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("flagged_ratio"))
  }

  /** Every doc survives with its matched spans cut out (tokens
    * re-joined by single spaces in `textCol`; original whitespace is
    * not preserved — the Lee et al. cut is token-level). */
  private def removeSpans(corpus: DataFrame, spans: DataFrame,
                          textCol: String, idCol: String): DataFrame = {
    val spanSets = spans
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("_spans"))
    val kept = filter(TextFns.tokens(col(textCol)),
      (tok, i) => !exists(col("_spans"), s =>
        i.cast("long").between(s.getField("span_start"),
          s.getField("span_end"))))
    corpus.join(spanSets, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("_spans").isNull, col(textCol))
          .otherwise(array_join(kept, " ")))
      .drop("_spans")
  }

  // ---------------------------------------------------------------------
  // WITHIN-corpus exact-substring dedup — Lee et al. 2022's primary mode:
  // every >= L-token span that occurs more than once ANYWHERE in the
  // corpus (across docs or repeated within one) is removed from all but
  // its first occurrence in (idCol, pos) corpus order.
  //
  // Lee et al. build a single-machine suffix array; the distributed
  // relational equivalent ranks positional L-gram occurrences per gram:
  // occurrence rank 1 = the canonical copy, rank > 1 = duplicated window.
  // A span of length >= L is repeated iff all of its L-windows are
  // repeated, so island-merging the rank>1 windows reconstructs the
  // maximal duplicated spans exactly.
  //
  // Scale shape: this is ONE shuffle of (gram-hash, doc, pos) triples by
  // gram — unavoidable for exact-substring self-dedup (the corpus is its
  // own index; nothing to broadcast). Grams travel as md5 digests, not
  // token strings: fixed 32-byte keys (~4× smaller than 10-token text)
  // that both engines compute identically for the oracle.
  // ---------------------------------------------------------------------

  /** Maximal duplicated spans (rank > 1 occurrences) per doc. */
  def selfExactSubstrSpans(corpus: DataFrame, minTokens: Int = 10,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = minTokens
    val grams = gramFrame(corpus, L, textCol, idCol)
      .select(col(idCol), col("n_tokens"), col("pos"),
        graft.plans.FastMd5.column(col("gram")).as("_g"))
    val byGram = Window.partitionBy(col("_g"))
      .orderBy(col(idCol), col("pos"))
    val dups = grams
      .withColumn("_rk", row_number().over(byGram))
      .filter(col("_rk") > 1)
      .select(col(idCol), col("n_tokens"), col("pos"))
    mergeIslands(dups, L, idCol)
  }

  /** Per-doc duplicated-span stats over the whole corpus (docs with no
    * duplicated span zero-padded): (idCol, n_tokens, n_spans,
    * tokens_flagged, flagged_ratio). */
  def selfExactSubstrStats(corpus: DataFrame, minTokens: Int = 10,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame =
    spanStats(corpus,
      selfExactSubstrSpans(corpus, minTokens, textCol, idCol),
      textCol, idCol)

  /** The self-deduplicated corpus: duplicated spans cut from every doc
    * except the first occurrence; all docs survive. */
  def selfExactSubstrClean(corpus: DataFrame, minTokens: Int = 10,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame =
    removeSpans(corpus,
      selfExactSubstrSpans(corpus, minTokens, textCol, idCol),
      textCol, idCol)

  /** Embedding-space benchmark decontamination — the SEMANTIC rung of
    * the ladder (after n-gram overlap and exact substrings): a corpus
    * example is contaminated when its embedding lies within cosine
    * `tau` of ANY benchmark embedding. Catches paraphrased/translated
    * eval leakage that token-overlap probes structurally miss (the
    * "rephrased samples" failure mode, arXiv:2311.04850).
    *
    * Scale shape: the benchmark set is an eval suite — thousands of
    * rows against a 100 TB corpus — so it travels the same way the
    * SemDeDup centroids do: collected once (bounded by construction)
    * and inlined as a broadcast literal inside a single map-side
    * argmax pass over the corpus. No shuffle, no join; linear in
    * corpus rows. Output keeps every corpus row with its nearest
    * benchmark id and similarity so the flag threshold is auditable
    * downstream.
    */
  def semanticContamination(corpus: DataFrame, benchmark: DataFrame,
                            tau: Double,
                            vecCol: String = "embedding",
                            idCol: String = "vec_id"): DataFrame = {
    val bench = benchmark
      .select(col(idCol).cast("long"), Similarity.asDouble(col(vecCol)))
      .orderBy(col(idCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    SemDedup.assign(
        corpus.select(col(idCol).as("vec_id"), col(vecCol)), bench,
        vecCol)
      .select(col("vec_id").as(idCol),
        col("cluster").as("nearest_bench"),
        col("centroid_sim").as("bench_sim"),
        (col("centroid_sim") >= tau).as("contaminated"))
  }
}
