package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Boilerplate, Decontaminate, Dedup, Sampling}

/** End-to-end pretraining-corpus preparation: the composition a user of
  * the training-data operators actually runs, in the order the
  * literature runs it (scrub → quality gate → boilerplate strip →
  * exact dedup → near dedup → optional SemDeDup → benchmark
  * decontamination → mixture sampling → optional token budget).
  * Every stage is one of the library's tested operators;
  * this job adds only sequencing, caching, and a per-stage row ledger.
  *
  * Scale notes: each stage's output is cached before its count (a
  * production run would persist stage boundaries to the lake instead —
  * same plan, durable lineage). No stage pairs documents (dedup goes
  * through groups, not pairs), the eval index broadcasts, and the mix
  * is a map-side filter, so the job stays linear in corpus bytes
  * end-to-end.
  */
object CorpusPrepJob {

  case class Config(
                    // 0 disables the within-corpus exact-substring span
                    // cut (q96 semantics); > 0 sets its minimum span
                    // length in tokens. Off by default: it is the one
                    // stage with a corpus-wide gram shuffle, and short
                    // fixture docs would lose whole bodies at small L.
                    selfSubstrMinTokens: Int = 0,
                    minQuality: Double = 0.25,
                    // fraction of docs a line must appear in to count
                    // as boilerplate: an ABSOLUTE threshold breaks under
                    // corpus growth (every common line eventually
                    // crosses it and whole docs empty out)
                    boilerplateMinDocFrac: Double = 0.5,
                    minhashK: Int = 8,
                    bands: Int = 4,
                    shingleN: Int = 2,
                    contaminationN: Int = 5,
                    contaminationThreshold: Double = 0.5,
                    mixAlpha: Double = 0.7,
                    sampleFraction: Double = 1.0,
                    // 0 disables the Gopher rule gate; > 0 enables it
                    // with that word-count floor. Off by default: the
                    // seven published rules (QualityFilters) assume
                    // natural-language prose and would empty a
                    // synthetic-vocabulary corpus via the stopword rule
                    gopherMinWords: Int = 0,
                    // 0 disables the token-budget cap; > 0 keeps the
                    // best-quality greedy prefix fitting that many
                    // tokens (BudgetSelect, distributed prefix scan)
                    tokenBudget: Long = 0L,
                    // SemDeDup parameters, used only when `run` is
                    // given an embeddings frame: cluster count and the
                    // within-cluster near-dup cosine threshold (the
                    // paper operates at tau ~0.95+ for web text)
                    semDedupK: Int = 64,
                    semDedupTau: Double = 0.95,
                    // DSIR importance selection (q162): 0 disables;
                    // > 0 keeps that many top-weighted docs against
                    // the target predicate below. Runs AFTER dedup so
                    // duplicates cannot vote up their own buckets.
                    dsirTopK: Int = 0,
                    dsirTargetLang: String = "en",
                    dsirBuckets: Int = 256)

  /** Returns the prepared corpus (doc_id, text, lang, source) and the
    * per-stage surviving-row ledger. `embeddings` (vec_id aligned with
    * doc_id + an `embedding` vector column) enables the SemDeDup stage
    * between near-dedup and decontamination. */
  def run(docs: DataFrame, evalSet: DataFrame,
          cfg: Config = Config(),
          embeddings: Option[DataFrame] = None): (DataFrame, Seq[(String, Long)]) = {
    val ladder = new Ladder()
    import ladder.stage

    // 0-2. canonicalize → scrub → heuristic quality gate (pure maps)
    val scored = ladder.prep(docs, cfg.minQuality)

    // 2b. optional Gopher rule gate (pure map predicate — q104 rules)
    val qualified =
      if (cfg.gopherMinWords <= 0) scored
      else stage("gopher_gate", graft.operators.QualityFilters
        .gopherFilter(scored, minWords = cfg.gopherMinWords))

    // 3. corpus-frequency boilerplate strip (token granularity — the
    // fixture corpus is single-line; real corpora pass line defaults).
    // The fraction's denominator is the frame the strip actually scans
    // (post-quality-gate), not the raw input — otherwise a selective
    // gate silently inflates the effective threshold.
    val minDocs = math.max(2L, math.ceil(
      cfg.boilerplateMinDocFrac * ladder.lastCount).toLong)
    val stripped = stage("boilerplate_stripped", qualified
      .join(Boilerplate.stripFrequentLines(qualified,
          minDocs, splitPattern = "\\s+", joinWith = " "),
        Seq("doc_id"))
      .select(col("doc_id"), col("text_clean").as("text"),
        col("lang"), col("source"))
      .filter(length(col("text")) > 0))

    // 4. exact dedup: canonical (min id) per content hash survives
    val exactDeduped = stage("exact_deduped", stripped.join(
      Dedup.exact(stripped).select(col("canonical_id").as("doc_id")),
      Seq("doc_id"), "left_semi"))

    // 5. near dedup: minhash-LSH group labeling, canonical survives
    val nearDeduped = stage("near_deduped", exactDeduped.join(
      Dedup.minhashDedupGroups(exactDeduped, cfg.minhashK, cfg.bands,
          cfg.shingleN)
        .filter(col("doc_id") === col("canonical"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi"))

    // 5b. optional within-corpus exact-substring span cut (first
    // occurrence keeps its copy; later verbatim >= L-token spans are
    // removed from the text, docs survive)
    val spanCut =
      if (cfg.selfSubstrMinTokens <= 0) nearDeduped
      else stage("span_deduped",
        Decontaminate.selfExactSubstrClean(nearDeduped,
            cfg.selfSubstrMinTokens)
          .filter(length(trim(col("text"))) > 0))

    // 5c. optional SemDeDup: embedding-space near-dup pruning among
    // the SURVIVING docs (embeddings restricted to the current
    // frontier first — clusters and domination must not see rows the
    // lexical stages already dropped). Keeps the least-prototypical
    // member of each dup neighborhood (q107 semantics).
    val semDeduped = embeddings match {
      case None => spanCut
      case Some(emb) =>
        val live = emb.join(
          spanCut.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        stage("sem_deduped", spanCut.join(
          graft.operators.SemDedup
            .semanticDedup(live, cfg.semDedupK, cfg.semDedupTau)
            .filter(col("kept"))
            .select(col("vec_id").as("doc_id")),
          Seq("doc_id"), "left_semi"))
    }

    // 5d. optional DSIR importance selection against the target
    // distribution (q162) — after dedup, so duplicates cannot vote up
    // their own hashed buckets; before decontamination/mixing so the
    // budgeted slice is the target-shaped one
    val selected =
      if (cfg.dsirTopK <= 0) semDeduped
      else stage("dsir_selected", semDeduped.join(
        graft.operators.Dsir.dsirScores(semDeduped,
            isTarget = col("lang") === cfg.dsirTargetLang,
            buckets = cfg.dsirBuckets, topK = cfg.dsirTopK)
          .filter(col("kept") === 1L)
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi"))

    // 6. benchmark decontamination against the broadcast eval index
    val decontaminated = stage("decontaminated", Decontaminate.clean(
      selected, evalSet, cfg.contaminationN,
      cfg.contaminationThreshold))

    // 7. α-temperature mixture over languages
    val mixed = stage("mixed", Sampling.temperatureMix(decontaminated,
      groupCol = "lang", keyCol = "doc_id",
      alpha = cfg.mixAlpha, sampleFraction = cfg.sampleFraction))

    // 8. optional token-budget cap: best-quality greedy prefix via the
    // distributed prefix scan (q106) — a left-semi join back keeps the
    // full doc rows of the selected ids
    val budgeted =
      if (cfg.tokenBudget <= 0L) mixed
      else stage("budget_capped", mixed.join(
        graft.operators.BudgetSelect
          .selectByTokenBudget(mixed, cfg.tokenBudget)
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi"))

    (budgeted, ladder.ledger)
  }
}
