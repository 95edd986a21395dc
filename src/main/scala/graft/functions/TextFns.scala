package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale document pipelines.
  *
  * Beyond-reference surface (BASELINE.json north star): language ID,
  * quality scoring, token counting, fingerprinting. All pure Catalyst
  * expressions (split/filter/transform/aggregate higher-order functions) —
  * no UDFs, so they stay inside whole-stage codegen and scale linearly
  * with no shuffle.
  *
  * Cross-engine determinism: anything that must hash identically in the
  * DuckDB oracle uses md5 (hex string), not xxhash64/murmur.
  */
object TextFns {

  /** Spark's `lower`/`upper`, value for value, without building ICU's
    * case-mapping table for all-ASCII input
    * ([[graft.plans.AsciiFirstCaseMap]]). */
  def lower(text: Column): Column = graft.plans.AsciiFirstCaseMap.lower(text)
  def upper(text: Column): Column = graft.plans.AsciiFirstCaseMap.upper(text)

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count — the fused [[graft.plans.TokenStats]]
    * byte scan (value-identical to `size(split(trim(text), "\\s+"))`,
    * spec-pinned; int-typed like `size()` was). */
  def tokenCount(text: Column): Column =
    graft.plans.TokenStats.column(text).getField("n_tokens").cast("int")

  /** Punctuation character count (explicit class, engine-portable). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, """[.,!?;:'"()\[\]-]""", ""))

  /** English stopword list used by quality scoring / language ID. */
  val enStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(w => w: Any): _*)))

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    hitCount(t, enStopwords).cast("double") / nullif(size(t), lit(0))
  }

  /** Mean token length — a cheap fluency signal. */
  def meanTokenLength(text: Column): Column = {
    val t = tokens(text)
    aggregate(t, lit(0), (acc, x) => acc + length(x)).cast("double") /
      nullif(size(t), lit(0))
  }

  /** [[stopwordRatio]] rounded 4dp in exact integer arithmetic — the
    * reporting form (count ratios land on decimal ties where double
    * round() is engine-dependent; [[ExactRound]] scaladoc). */
  def stopwordRatioR4(text: Column): Column = {
    val t = tokens(text)
    ExactRound.ratio(hitCount(t, enStopwords), nullif(size(t), lit(0)), 4)
  }

  /** Composite quality score in [0,1]: length band + stopword presence +
    * low punctuation density. Mirrors the shape of C4/Gopher-style filters
    * (published heuristics), kept simple and engine-portable. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val lengthOk = when(nTok.between(10, 100000), 0.4).otherwise(0.0)
    val stopOk = when(stopwordRatio(text) > 0.05, 0.3).otherwise(0.0)
    val punctOk =
      when(punctCount(text).cast("double") / nullif(length(text), lit(0))
        < 0.1, 0.3).otherwise(0.0)
    round(lengthOk + stopOk + punctOk, 4)
  }

  /** Stopword-set language ID over {en,es,de,fr}: hit counts per language
    * word set, argmax with deterministic preference order
    * en > es > de > fr > und on ties. N-gram-free variant of the classic
    * stopword-profile heuristic (Cavnar-Trenkle-style). */
  val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is", "to"),
    "es" -> Seq("el", "la", "y", "de", "es", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "est", "une"))

  def langHits(text: Column): Seq[(String, Column)] = {
    val t = tokens(text)
    langWords.map { case (l, ws) => l -> hitCount(t, ws) }
  }

  def langId(text: Column): Column = {
    val hits = langHits(text)
    val best = greatest(hits.map(_._2): _*)
    // first language (in declared preference order) reaching the max
    hits.foldLeft(when(best <= 0, "und")) { case (acc, (l, h)) =>
      acc.when(h === best, l)
    }.otherwise("und")
  }

  /** Canonical content fingerprint: md5 of the sorted distinct token set.
    * Robust to token order / duplication — the "fingerprint dedup" key. */
  def fingerprint(text: Column): Column =
    graft.plans.FastMd5.column(
      array_join(array_sort(array_distinct(tokens(text))), " "))

  /** BPE-ish pre-tokenization: letter runs, digit runs, symbol runs
    * (whitespace dropped) — the GPT-2 pre-tokenizer shape reduced to an
    * engine-portable character-class regex (no lookahead, explicit ASCII
    * classes, so Java regex and RE2 agree). */
  val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  def bpePieces(text: Column): Column =
    regexp_extract_all(text, lit(bpePattern), lit(0))

  /** Order-sensitive rolling-hash fingerprint (h·31+cp mod 2³¹−1 over
    * codepoints) — the streaming/positional complement to [[fingerprint]]
    * (which is order-free). Native one-pass expression; the DuckDB twin
    * replays the recurrence with list_reduce. */
  def rollingFingerprint(text: Column): Column =
    graft.plans.RollingHashExpressions.rollingHash(text)

  /** Word n-gram shingles (distinct), the MinHash/Jaccard input set —
    * the native [[graft.plans.WordNGrams]] kernel (one traversal; the
    * prior chained-zip_with formulation was interpreted HOF evaluation
    * and measured ~10× slower at n=5; `shinglesHof` below keeps the
    * composed formulation as the kernel's differential-test twin). */
  def shingles(text: Column, n: Int): Column =
    graft.plans.NGramExpressions.wordNGrams(text, n)

  /** Composed-Catalyst twin of [[shingles]] (zip_with against k-shifted
    * slices; lambdas touch only their own arguments — an element_at
    * formulation re-evaluates tokenization per element, O(tokens²)).
    * Kept for TextFnsSpec equivalence testing only. */
  def shinglesHof(text: Column, n: Int): Column = {
    val t = tokens(text)
    if (n == 1) array_distinct(t)
    else {
      val grams = (1 until n).foldLeft(t) { (acc, k) =>
        zip_with(acc, slice(t, lit(k + 1), size(t)), (g, w) =>
          when(w.isNotNull && g.isNotNull, concat(g, lit(" "), w)))
      }
      array_distinct(filter(grams, g => g.isNotNull))
    }
  }

  /** 64-bit SimHash over distinct tokens (Charikar 2002), as one fused
    * native expression: per-token hash = first 64 bits of md5 (engine-
    * portable — the DuckDB oracle reproduces it from the md5 hex), bit
    * votes summed in a single pass. Null text → null; empty token set →
    * 0L. Near-dups are clustered by Hamming distance on the result. */
  def simhash64(text: Column): Column =
    graft.plans.SimHashExpressions.simhash64(array_distinct(tokens(text)))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Sentence count: runs of terminal punctuation, floored at 1 so a
    * fragment still reads as one sentence (the convention readability
    * formulas assume). Engine-portable regex (simple ASCII class). */
  def sentenceCount(text: Column): Column =
    greatest(size(regexp_extract_all(text, lit("[.!?]+"), lit(0)))
      .cast("long"), lit(1L))

  /** Syllable estimate: lowercase vowel-group runs — the standard
    * cheap proxy (each maximal `[aeiouy]+` run ≈ one syllable). */
  def syllableCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
      .cast("long")

  /** Flesch reading ease from the integer counts:
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`.
    * All three counts are exact integers computed identically in both
    * engines, so the double arithmetic (two divisions, two multiplies,
    * two subtractions, in this exact shape) is bit-portable; empty
    * text (0 words) → null via NULLIF. */
  def fleschReadingEase(text: Column): Column = {
    val w = tokenCount(text).cast("double")
    val s = sentenceCount(text).cast("double")
    val sy = syllableCount(text).cast("double")
    round(lit(206.835) - lit(1.015) * (w / s)
      - lit(84.6) * (sy / nullif(w, lit(0.0))), 4)
  }

  /** Complex-word count: whitespace tokens with ≥3 vowel-group
    * syllables (the Gunning-Fog polysyllable proxy, same vowel-run
    * estimate as [[syllableCount]]). */
  def complexWordCount(text: Column): Column =
    size(filter(tokens(text), t =>
      size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
        >= 3)).cast("long")

  /** Gunning-Fog index `0.4·(words/sentences + 100·complex/words)`
    * from the same exact integer counts — identical expression shape
    * both engines; empty text → null. */
  def gunningFog(text: Column): Column = {
    val w = tokenCount(text).cast("double")
    val s = sentenceCount(text).cast("double")
    val c = complexWordCount(text).cast("double")
    round(lit(0.4) * (w / s + lit(100.0) * (c / nullif(w, lit(0.0)))),
      4)
  }
}
