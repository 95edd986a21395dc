package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{MediaCodecs, TextFns}
import graft.operators.{Dedup, IvfPq, Multimodal, Pca,
  ProductQuantizer, Relevance, Similarity}

/** Training-data-pipeline operators (BASELINE.json north star): text
  * analysis, deduplication, similarity search over `documents` and
  * `embeddings`. Oracle twins where engine-portable (md5-based hashing,
  * double-precision vector math); LSH/simhash variants are Spark-side
  * scale paths checked by unit tests + rows-only.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private val TOKS =
    """WITH t AS (
         SELECT doc_id, text, lang, source, n_chars,
                regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents)"""

  /** Shared suffix of the exact-substring oracles (q95/q96): island
    * merge of hit windows `h(doc_id, n, i)` into contiguous matched
    * regions + the zero-padded per-doc rollup over corpus `c(doc_id,
    * n)`. One definition so the two oracles cannot drift apart
    * (L = 10 → window end = i + 9). */
  private val SPAN_ROLLUP =
    """, isl AS (SELECT doc_id, n, i,
                   CASE WHEN max(i + 9) OVER (PARTITION BY doc_id
                          ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) >= i - 1
                        THEN 0 ELSE 1 END AS brk
                 FROM h),
         g2 AS (SELECT doc_id, n, i,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY i)
                    AS island
                FROM isl),
         sp AS (SELECT doc_id, n, island, min(i) AS s, max(i) + 9 AS e
                FROM g2 GROUP BY 1, 2, 3),
         agg AS (SELECT doc_id, count(*) AS n_spans,
                   sum(e - s + 1) AS fl
                 FROM sp GROUP BY 1)
         SELECT c.doc_id, CAST(c.n AS BIGINT) AS n_tokens,
                CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
                CAST(coalesce(a.fl, 0) AS BIGINT) AS tokens_flagged,
                round(CAST(coalesce(a.fl, 0) AS DOUBLE) /
                      greatest(c.n, 1), 6) AS flagged_ratio
         FROM c LEFT JOIN agg a USING (doc_id)
         ORDER BY c.doc_id"""

  val queries: Map[String, Q] = Map(
    // token counting: whitespace tokens, char count, mean token length
    // — fused one-scan TokenStats kernel (semantics pinned against the
    // split/aggregate HOF twin in TextFnsSpec; q28 oracle unchanged)
    "q28_token_stats" -> ((s, d) => {
      val st = graft.plans.TokenStats.column(col("text"))
      Tables.documents(s, d).select(col("doc_id"),
          st.getField("n_tokens").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_measured"),
          graft.functions.ExactRound.ratio(st.getField("sum_tok_len"),
            st.getField("n_tokens"), 4).as("mean_tok_len"))
        .orderBy(col("doc_id"))
    }),

    // quality scoring: stopword ratio, punctuation density, composite
    "q29_quality" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          TextFns.stopwordRatioR4(col("text")).as("stop_ratio"),
          TextFns.punctCount(col("text")).cast("long").as("n_punct"),
          TextFns.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    // language ID: per-language stopword hits + argmax guess
    "q30_langid" -> ((s, d) => {
      val hits = TextFns.langHits(col("text"))
        .map { case (l, h) => h.cast("long").as(s"h_$l") }
      Tables.documents(s, d).select(
          (col("doc_id") +: hits :+
            TextFns.langId(col("text")).as("lang_guess")): _*)
        .orderBy(col("doc_id"))
    }),

    // exact dedup: hash-groupBy on content digest
    "q31_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d)).orderBy(col("content_hash"))),

    // fingerprint dedup key: md5 of sorted distinct token set
    "q32_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          TextFns.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))),

    // minhash signatures (md5-seeded, word-bigram shingles)
    // the kernel is the cost here, and a single-row-group fixture file
    // scans as ONE task — parallelize the map work when (and only when)
    // the scan under-feeds the session (Tables.parallelized scaladoc;
    // measured 0.92 → 0.62 s at sf0.1, no-op on the ≥cpus-file
    // inflated legs)
    "q33_minhash_sigs" -> ((s, d) =>
      Dedup.minhashSignatures(
          Tables.parallelized(s, Tables.documents(s, d)), k = 4, n = 2)
        .orderBy(col("doc_id"))),

    // n-gram jaccard pairs via inverted index (no cross join), with the
    // posting-list frequency cap BINDING: the fixture's boilerplate
    // tokens appear in ≥450 of 500 docs (the q86 premise), so maxDf=400
    // actually drops hot postings and the oracle checks the capped
    // semantics, not just the happy path
    "q34_jaccard_pairs" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 1,
          threshold = 0.6, maxDf = 400)
        .orderBy(col("id_a"), col("id_b"))),

    // triplet mining (anchor / same-label positive / hard negative),
    // top-1s via partial-aggregatable struct max — no sort
    "q203_triplets" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.tripletMine(e, e.filter(col("vec_id") < 20))
        .orderBy(col("anchor_id"))
    }),

    // brute-force cosine top-k (exact ANN baseline), two-phase plan
    "q35_knn" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // the same kNN on int8 codes — cosine is scale-invariant, so the
    // quantized search is exact relational algebra too
    "q92_knn_quantized" -> ((s, d) => {
      val q = graft.operators.Similarity
        .quantizeInt8(Tables.embeddings(s, d))
        .select(col("vec_id"), col("qvec").as("embedding"))
      Similarity.bruteForceTopK(q, q.filter(col("vec_id") < 5), k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Johnson-Lindenstrauss ±1 random projection 64→16 dims: the
    // embedding-compression map for downstream ANN (seeded signs, pure
    // map-side; oracle replays the literal sign matrix)
    "q97_random_projection" -> ((s, d) =>
      Similarity.randomProject(Tables.embeddings(s, d), outDim = 16,
          dim = 64, seed = 42L)
        .orderBy(col("vec_id"))),

    // two-stage ANN: shortlist on the JL projection, exact re-rank of
    // the shortlist — deterministic (rounded sims + id tiebreaks), so
    // the whole projected-retrieval pipeline gets a hash oracle
    "q98_projected_knn" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.projectedTopK(e, e.filter(col("vec_id") < 5), k = 10,
          shortlist = 100, outDim = 32)
        .orderBy(col("query_id"), col("rank"))
    }),

    // product-quantization ADC search (m=8 subspaces, k=16 codes, L2):
    // compressed-domain ANN — the corpus is scanned as 8 small ints
    // per row, never floats. Rows-only: the Lloyd codebook is not
    // oracle-replayable; q117b anchors the exact regime.
    "q117_pq_knn" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      ProductQuantizer.pqTopK(e, e.filter(col("vec_id") < 5), dim = 64,
          m = 8, k = 16, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // exact-regime anchor (the q57b pattern): k=256 covers every
    // distinct subvector of the 200-vector corpus, so init IS the
    // codebook, Lloyd is a fixed point, and ADC provably equals exact
    // L2 top-k — hash oracle against DuckDB list_distance
    "q117b_pq_knn_exact" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      ProductQuantizer.pqTopK(e.filter(col("vec_id") < 200),
          e.filter(col("vec_id") < 5), dim = 64, m = 8, k = 256,
          topK = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // hybrid (filtered) vector search: a metadata predicate narrows
    // the corpus BEFORE the ANN scan — the filtered-vector-store op;
    // here the filter is a doc-table semi-join (lang = 'en') and the
    // search is exact cosine top-k over the survivors
    "q157_hybrid_search" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val enDocs = Tables.documents(s, d)
        .where(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val filtered = e.join(enDocs, Seq("vec_id"), "left_semi")
      Similarity.bruteForceTopK(filtered, e.filter(col("vec_id") < 5),
          k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // PMI collocations over within-doc co-occurrence (document
    // frequencies, min-support gated)
    "q158_pmi_pairs" -> ((s, d) =>
      Relevance.pmiPairs(Tables.documents(s, d), minPairDocs = 5)
        .orderBy(col("token_a"), col("token_b"))),

    // DSIR importance resampling: hashed-unigram target-vs-raw LM
    // log ratio per doc, deterministic top-k keep (target = English)
    "q162_dsir" -> ((s, d) =>
      graft.operators.Dsir.dsirScores(Tables.documents(s, d),
          isTarget = col("lang") === "en", buckets = 256, topK = 100)
        .orderBy(col("doc_id"))),

    // Okapi BM25 against a literal query — fixed-order per-token
    // terms keep the double arithmetic hash-portable
    "q163_bm25" -> ((s, d) =>
      Relevance.bm25(Tables.documents(s, d),
          query = Seq("spark", "join", "window"), topK = 20)
        .orderBy(col("rank"))),

    // hybrid-search rank fusion: the BM25 lexical top-20 (q163's
    // surface) and the cosine semantic top-20 for one query vector
    // combined by reciprocal-rank fusion — the calibration-free
    // combiner every hybrid retrieval stack ships. Scores are sums
    // of exact micro-unit longs (ExactRound), so the oracle replays
    // the identical integer algebra. The semantic leg's (doc_id, rank)
    // is STAGED (the q336/q129 pattern): a first cut had DuckDB
    // recompute the cosine ranking, and a sim within an ulp of a
    // 0.00005 rounding boundary would flip a semantic rank and cascade
    // through the fused order — the exact failure class that bit
    // q336. The cosine top-k surface itself stays independently
    // oracle-verified by q35/q157; here only the FUSION algebra is
    // under test, and both engines replay it over one shared ranking.
    "q335_rrf_fusion" -> ((s, d) => {
      val lex = Relevance.bm25(Tables.documents(s, d),
          query = Seq("spark", "join", "window"), topK = 20)
        .select(col("doc_id"), col("rank"))
      val e = Tables.embeddings(s, d)
      val semPath = s"${MLQueries.stageDir(d)}/q335/sem"
      Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
        .coalesce(1).write.mode("overwrite").parquet(semPath)
      // fuse from the SAME staged ranking the oracle will read — the
      // staged-integers == fused-integers invariant holds by
      // construction, not by the top-k recomputing identically
      val sem = s.read.parquet(semPath)
      Relevance.rrfFuse(Seq(lex, sem), k = 60, topK = 20)
        .orderBy(col("fused_rank"))
    }),

    // multi-query hybrid fusion: per-query RRF of TWO ANN paths over
    // the same query batch — full-precision cosine top-10 fused with
    // the int8-quantized cosine top-10 for each of 5 query vectors
    // (rrfFuseByQuery: the aggregate keys on (query,doc), the rank
    // window partitions by query — rrfFuse's documented scale
    // extension, implemented and graded). Both legs are STAGED (each
    // is independently oracle-verified: q35 full precision, q92
    // quantized); the per-query fusion algebra is what's under test.
    "q343_rrf_multiquery" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val full = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val qz = Similarity.quantizeInt8(e)
        .select(col("vec_id"), col("qvec").as("embedding"))
      val quant = Similarity
        .bruteForceTopK(qz, qz.filter(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val base = s"${MLQueries.stageDir(d)}/q343"
      full.coalesce(1).write.mode("overwrite").parquet(s"$base/full")
      quant.coalesce(1).write.mode("overwrite").parquet(s"$base/quant")
      Relevance.rrfFuseByQuery(
          Seq(s.read.parquet(s"$base/full"),
            s.read.parquet(s"$base/quant")), k = 60, topK = 10)
        .orderBy(col("query_id"), col("fused_rank"))
    }),

    // per-query rank agreement between the full-precision and the
    // int8-quantized rankings: RBO@10 per query vector — the
    // quantization-quality readout BEYOND set recall (two rankings
    // can share all 10 docs yet order them differently; q338's
    // recall can't see that, RBO can). Legs staged (independently
    // verified by q35/q92); the per-query suffix-weight algebra is
    // under test with the SAME generated micro-ints in both engines.
    "q344_rbo_multiquery" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val full = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val qz = Similarity.quantizeInt8(e)
        .select(col("vec_id"), col("qvec").as("embedding"))
      val quant = Similarity
        .bruteForceTopK(qz, qz.filter(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val base = s"${MLQueries.stageDir(d)}/q344"
      full.coalesce(1).write.mode("overwrite").parquet(s"$base/full")
      quant.coalesce(1).write.mode("overwrite").parquet(s"$base/quant")
      Relevance.rboByQuery(
          s.read.parquet(s"$base/full"),
          s.read.parquet(s"$base/quant"), k = 10, p = 0.9)
        .orderBy(col("query_id"))
    }),

    // Kendall τ per query over the same staged full-vs-int8 runs as
    // q344 (its own stage copy — queries are self-contained): RBO
    // reads top-weighted agreement, τ counts every pairwise inversion
    // equally. Pure integer pair counts; the 4dp τ uses the SIGNED
    // half-up bridge on both sides (negative τ is exactly where
    // Spark div and DuckDB // disagree)
    "q350_kendall_tau" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val full = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val qz = Similarity.quantizeInt8(e)
        .select(col("vec_id"), col("qvec").as("embedding"))
      val quant = Similarity
        .bruteForceTopK(qz, qz.filter(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val base = s"${MLQueries.stageDir(d)}/q350"
      full.coalesce(1).write.mode("overwrite").parquet(s"$base/full")
      quant.coalesce(1).write.mode("overwrite").parquet(s"$base/quant")
      Relevance.kendallTauByQuery(
          s.read.parquet(s"$base/full"),
          s.read.parquet(s"$base/quant"), k = 10)
        .orderBy(col("query_id"))
    }),

    // per-vector int8 dequantization distortion — the q354 twin for
    // the 4x storage path; no staging needed: the quantization
    // algebra is q90's hash-anchored replay, and the distance is
    // per-row independent reporting
    "q355_int8_distortion" -> ((s, d) =>
      Similarity.int8Distortion(Tables.embeddings(s, d))
        .orderBy(col("vec_id"))),

    // per-vector PQ reconstruction distortion (m=8, k=16 on the
    // capped corpus): the storage-side quantization metric beside
    // q338's recall and q344's RBO. Codes + codebooks are STAGED
    // (Lloyd books are not SQL-derivable); the oracle decodes and
    // recomputes the per-row 4dp L2 — per-row independent reporting,
    // the allowed recompute class
    "q354_pq_distortion" -> ((s, d) => {
      val capped = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      val cb = ProductQuantizer.train(capped, dim = 64, m = 8, k = 16)
      val codes = ProductQuantizer.encode(capped, cb)
      val base = s"${MLQueries.stageDir(d)}/q354"
      codes.coalesce(1).write.mode("overwrite").parquet(s"$base/codes")
      import s.implicits._
      cb.books.zipWithIndex.flatMap { case (book, sIdx) =>
        book.zipWithIndex.map { case (c, j) => (sIdx, j, c) }
      }.toDF("s", "j", "sub").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/books")
      ProductQuantizer.reconstructionError(capped, cb,
          s.read.parquet(s"$base/codes"))
        .orderBy(col("vec_id"))
    }),

    // intra-list similarity @10 of the brute-force top-k lists — the
    // redundancy number MMR (q336) exists to push down. The pairwise
    // sim4 grid is STAGED (the q336/q344 discipline): the aggregation
    // both engines replay is pure integer algebra, with the signed
    // half-up bridge for the 4dp mean
    "q351_intra_list_sim" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val run = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val p = s"${MLQueries.stageDir(d)}/q351/pairs"
      Similarity.ilsPairs(run, e, k = 10, "query_id", "doc_id",
          "rank", "embedding", "vec_id")
        .coalesce(1).write.mode("overwrite").parquet(p)
      Similarity.ilsAggregate(s.read.parquet(p), "query_id")
        .orderBy(col("query_id"))
    }),

    // pseudo-relevance-feedback expansion terms for the q163 BM25
    // query: top-10 feedback docs -> micro-int tf/dl term weights ->
    // top-5 expansion candidates. The feedback SET is staged (BM25
    // ranks on ln() — the transcendental staging rule); the replayed
    // leg is pure integer algebra
    "q352_prf_expansion" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val fbPath = s"${MLQueries.stageDir(d)}/q352/fb"
      Relevance.bm25(docs, Seq("spark", "join", "window"), topK = 10)
        .select(col("doc_id"), col("doc_len"))
        .coalesce(1).write.mode("overwrite").parquet(fbPath)
      Relevance.expansionFromFeedback(docs, s.read.parquet(fbPath),
          Seq("spark", "join", "window"), fbTerms = 5)
        .orderBy(col("rank"))
    }),

    // rank agreement between the lexical and semantic retrieval legs:
    // RBO@20 (rank-biased overlap, Webber et al. 2010) — the
    // top-weighted "are these two rankings finding the same things"
    // diagnostic a retrieval stack reads BEFORE deciding hybrid
    // fusion (q335) is worth running. Depth weights are generated
    // micro-int literals shared by plan and oracle (the q337
    // discipline — no pow() at query time in either engine); the
    // semantic leg is staged (its own copy — queries are
    // self-contained, Verify's run order is not a contract).
    "q339_rbo" -> ((s, d) => {
      val lex = Relevance.bm25(Tables.documents(s, d),
          query = Seq("spark", "join", "window"), topK = 20)
        .select(col("doc_id"), col("rank"))
      val e = Tables.embeddings(s, d)
      val semPath = s"${MLQueries.stageDir(d)}/q339/sem"
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
        .coalesce(1).write.mode("overwrite").parquet(semPath)
      Relevance.rboAtK(lex, s.read.parquet(semPath), k = 20, p = 0.9)
    }),

    // MMR diversified re-ranking of a retrieved shortlist: the cosine
    // top-30 for one query vector greedily re-ordered by
    // λ·rel − (1−λ)·max-sim-to-selected in exact 4dp/micro integer
    // arithmetic. Graded via STAGING (the q129 pattern): the
    // quantized state the greedy runs on — rel4 per doc + the 4dp
    // pairwise sim grid — is persisted once, and the oracle unrolls
    // the SAME k greedy steps in SQL over those integers. (A first
    // cut had DuckDB recompute list_cosine_similarity: its last-ulp
    // disagreement with the JVM kernel flipped one s4 cell and the
    // greedy cascaded — the exact failure class staging exists for.
    // The cosine surface itself stays independently verified by
    // q35/q157.)
    "q336_mmr_rerank" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val short = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 30)
        .select(col("neighbor_id").as("doc_id"), col("sim").as("rel"))
        .join(e.select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"))
      val st = Similarity.mmrQuantize(short)
      st.ids.indices.map(i => (st.ids(i), st.rel(i), st.rel4(i)))
        .toDF("id", "rel", "rel4").coalesce(1)
        .write.mode("overwrite")
        .parquet(s"${MLQueries.stageDir(d)}/q336/rel")
      (for {
        i <- st.ids.indices; j <- st.ids.indices if i != j
      } yield (st.ids(i), st.ids(j), st.sim4(i)(j)))
        .toDF("ia", "ib", "s4").coalesce(1)
        .write.mode("overwrite")
        .parquet(s"${MLQueries.stageDir(d)}/q336/sim")
      // rerank from the SAME quantized state that was just staged —
      // one shortlist job, and the oracle replays these exact integers
      Similarity.mmrRerank(s, st, lambda = 0.5, k = 10,
          idCol = "doc_id", relCol = "rel")
        .orderBy(col("mmr_rank"))
    }),

    // per-doc character-entropy gate — the pre-tokenization binary/
    // gibberish filter; FUSED native kernel (same micro-nat state as
    // the relational twin RelevanceSpec pins it to)
    "q182_char_entropy" -> ((s, d) =>
      Relevance.charEntropy(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // per-doc lexical diversity: TTR/hapax in exact integer rounding,
    // unigram self-entropy via the micro-nat DECIMAL bridge
    "q164_lexical_diversity" -> ((s, d) =>
      Relevance.lexicalDiversity(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // readability: Flesch reading ease from engine-portable integer
    // counts (whitespace words, [.!?]+ sentences, vowel-run syllables)
    "q155_readability" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_words"),
          TextFns.sentenceCount(col("text")).as("n_sentences"),
          TextFns.syllableCount(col("text")).as("n_syllables"),
          TextFns.fleschReadingEase(col("text")).as("flesch"))
        .orderBy(col("doc_id"))),

    // opening diversity per source: distinct first tokens over docs —
    // the template-boilerplate complement at token granularity
    "q334_opening_diversity" -> ((s, d) => {
      val first = element_at(TextFns.tokens(TextFns.lower(col("text"))), 1)
      Tables.documents(s, d)
        .select(col("source"), first.as("f"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("f")).cast("long").as("n_openings"))
        .select(col("source"), col("n_docs"), col("n_openings"),
          graft.functions.ExactRound.ratio(col("n_openings"),
            col("n_docs"), 4).as("opening_diversity"))
        .orderBy(col("source"))
    }),

    // sentence-capitalization rate — the grammaticality probe OCR and
    // boilerplate strips fail: share of sentence starts that are
    // uppercase letters, exact counts
    "q325_capitalization" -> ((s, d) => {
      val starts = size(regexp_extract_all(col("text"),
        lit("(^|[.!?]\\s+)[A-Za-z]"), lit(0))).cast("long")
      val upper = size(regexp_extract_all(col("text"),
        lit("(^|[.!?]\\s+)[A-Z]"), lit(0))).cast("long")
      Tables.documents(s, d).select(col("doc_id"),
          starts.as("n_sentence_starts"), upper.as("n_capitalized"),
          graft.functions.ExactRound.ratio(upper,
            greatest(starts, lit(1L)), 4).as("cap_rate"))
        .orderBy(col("doc_id"))
    }),

    // vocabulary stability between corpus halves — type-set Jaccard
    "q322_vocab_stability" -> ((s, d) => {
      val ext = Tables.documents(s, d)
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      val tok = Tables.documents(s, d).crossJoin(broadcast(ext))
        .select(when(col("doc_id") * 2 <= col("lo") + col("hi"),
          lit("a")).otherwise(lit("b")).as("h"),
          explode(TextFns.tokens(TextFns.lower(col("text")))).as("token"))
        .where(col("token") =!= "").distinct()
      val a = tok.where(col("h") === "a").select(col("token"))
      val b = tok.where(col("h") === "b").select(col("token"))
      val nA = a.count()
      val nB = b.count()
      a.join(b, Seq("token"), "left_semi")
        .agg(count(lit(1)).cast("long").as("n_shared"))
        .select(lit(nA).as("types_first"), lit(nB).as("types_second"),
          col("n_shared"),
          graft.functions.ExactRound.ratio(col("n_shared"),
            lit(nA + nB) - col("n_shared"), 4).as("jaccard"))
    }),

    // does length predict quality? per-source Pearson of (n_chars,
    // 4dp quality) on exact HUGEINT moments
    "q319_len_quality_corr" -> ((s, d) => {
      val q4 = graft.functions.ExactRound.fixed4(
        TextFns.qualityScore(col("text")))
      val src = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("long").as("x"),
          q4.as("y"))
      val xd = col("x").cast("decimal(38,0)")
      val yd = col("y").cast("decimal(38,0)")
      val g = src.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("x")).cast("long").as("sx"),
          sum(col("y")).cast("long").as("sy"),
          sum(xd * col("x")).as("sxx"),
          sum(yd * col("y")).as("syy"),
          sum(xd * col("y")).as("sxy"))
        .where(col("n") > 2)
      val num = (col("n") * col("sxy") -
        col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
      val dx = (col("n") * col("sxx") -
        col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
      val dy = (col("n") * col("syy") -
        col("sy").cast("decimal(38,0)") * col("sy")).cast("double")
      g.select(col("source"), col("n").as("n_docs"),
          round(num / nullif(sqrt(dx * dy), lit(0.0)), 4)
            .as("len_quality_r"))
        .orderBy(col("source"))
    }),

    // exact-duplicate family-size histogram (md5 digest groups)
    "q302_dup_family_sizes" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("digest"))
        .agg(count(lit(1)).cast("long").as("family"))
        .groupBy(col("family"))
        .agg(count(lit(1)).cast("long").as("n_families"))
        .orderBy(col("family"))),

    // per-source quality drift between corpus halves (doc_id split),
    // exact scaled means off the 4dp quality score
    "q303_source_quality_drift" -> ((s, d) => {
      val ext = Tables.documents(s, d)
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      val q4 = graft.functions.ExactRound.fixed4(
        TextFns.qualityScore(col("text")))
      val half = when(col("doc_id") * 2 <= col("lo") + col("hi"),
        lit(1L)).otherwise(lit(2L))
      Tables.documents(s, d).crossJoin(broadcast(ext))
        .select(col("source"), half.as("h"), q4.as("q"))
        .groupBy(col("source"), col("h"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("q")).cast("long").as("_s"))
        .select(col("source"), col("h").as("half"), col("n_docs"),
          graft.functions.ExactRound.ratio(col("_s"),
            col("n_docs") * 10000L, 4).as("mean_quality"))
        .orderBy(col("source"), col("half"))
    }),

    // encoding-corruption audit: U+FFFD replacement chars (the
    // transcoding-failure marker) + stray control chars per doc
    "q300_encoding_corruption" -> ((s, d) => {
      val repl = (length(col("text")) - length(regexp_replace(
        col("text"), "�", ""))).cast("long")
      val ctrl = (length(col("text")) - length(regexp_replace(
        col("text"), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")))
        .cast("long")
      Tables.documents(s, d).select(col("doc_id"), col("source"),
          repl.as("n_replacement"), ctrl.as("n_control"),
          ((repl + ctrl) > 0).cast("long").as("is_corrupt"))
        .orderBy(col("doc_id"))
    }),

    // uniformity audit of the md5 splitter itself — chi2 per bucket
    "q296_split_uniformity" -> ((s, d) =>
      graft.operators.Sampling.splitUniformity(
          Tables.documents(s, d), "doc_id", 10)
        .orderBy(col("bucket"))),

    // language-mix entropy per source — is a source monolingual or a
    // crawl mixture; same 6dp-decimal order-free term sum as q268
    "q293_lang_mix_entropy" -> ((s, d) => {
      val cnt = Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).cast("long").as("c"))
      cnt.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_langs"),
          sum(col("c")).cast("long").as("n_docs"),
          sum(round(col("c").cast("double") *
              log(col("c").cast("double")), 6).cast("decimal(28,6)"))
            .cast("double").as("_s"))
        .select(col("source"), col("n_langs"), col("n_docs"),
          round(log(col("n_docs").cast("double")) -
            col("_s") / col("n_docs"), 4).as("entropy_nats"))
        .orderBy(col("source"))
    }),

    // shared-prefix template groups (boilerplate screen)
    "q281_template_groups" -> ((s, d) =>
      graft.operators.Relevance.templateGroups(Tables.documents(s, d))
        .orderBy(col("prefix"))),

    // Heaps-law vocabulary growth over doc_id-ordered corpus slices
    "q282_vocab_growth" -> ((s, d) =>
      graft.operators.Relevance.vocabGrowth(Tables.documents(s, d), 10)
        .orderBy(col("bucket"))),

    // code-vs-prose heuristic: brace/semicolon density + indented-line
    // share — the code-filtering gate a pretraining mix needs
    "q275_code_detection" -> ((s, d) => {
      val chars = length(col("text")).cast("long")
      val syms = (length(col("text")) - length(regexp_replace(
        col("text"), "[{}()\\[\\];]", ""))).cast("long")
      val lines = split(col("text"), "\n")
      val nLines = size(lines).cast("long")
      val indented = size(filter(lines, l =>
        l.rlike("^(\t|  )"))).cast("long")
      val symShare = graft.functions.ExactRound.ratio(syms * 10000,
        greatest(chars, lit(1L)), 0).divide(lit(10000.0))
      val indShare = graft.functions.ExactRound.ratio(indented * 10000,
        greatest(nLines, lit(1L)), 0).divide(lit(10000.0))
      Tables.documents(s, d).select(col("doc_id"),
          syms.as("n_symbols"), indented.as("n_indented"),
          nLines.as("n_lines"), symShare.as("symbol_share"),
          indShare.as("indent_share"),
          (symShare > 0.01 || indShare > 0.2).cast("long")
            .as("is_code"))
        .orderBy(col("doc_id"))
    }),

    // Gunning-Fog from the same counts + polysyllable tokens
    "q251_gunning_fog" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_words"),
          TextFns.complexWordCount(col("text")).as("n_complex"),
          TextFns.gunningFog(col("text")).as("fog"))
        .orderBy(col("doc_id"))),

    // per-source vocabulary richness: hapax rate + Yule's K
    "q252_vocab_richness" -> ((s, d) =>
      graft.operators.Relevance.vocabRichness(Tables.documents(s, d))
        .orderBy(col("source"))),

    // per-doc sentence/word shape stats, exact bridges
    "q253_sentence_stats" -> ((s, d) => {
      val nw = TextFns.tokenCount(col("text")).cast("long")
      val ns = TextFns.sentenceCount(col("text"))
      val nonspace =
        length(regexp_replace(trim(col("text")), "\\s+", ""))
          .cast("long")
      Tables.documents(s, d).select(col("doc_id"),
          ns.as("n_sentences"),
          graft.functions.ExactRound.ratio(nw, ns, 4)
            .as("words_per_sentence"),
          graft.functions.ExactRound.ratio(nonspace,
            greatest(nw, lit(1L)), 4).as("mean_word_len"))
        .orderBy(col("doc_id"))
    }),

    // UTF-8 weight per doc: chars vs bytes, exact multibyte share
    "q254_multibyte_ratio" -> ((s, d) => {
      val chars = length(col("text")).cast("long")
      val bytes = octet_length(col("text")).cast("long")
      Tables.documents(s, d).select(col("doc_id"),
          chars.as("n_chars_txt"), bytes.as("n_bytes"),
          graft.functions.ExactRound.ratio(bytes - chars,
            greatest(bytes, lit(1L)), 4).as("multibyte_share"))
        .orderBy(col("doc_id"))
    }),

    // Fano burstiness of the 50 highest-df terms
    "q255_burstiness" -> ((s, d) =>
      graft.operators.Relevance.burstiness(Tables.documents(s, d))
        .orderBy(col("token"))),

    // IVF-PQ: coarse inverted file → residual PQ codes → ADC
    // shortlist → exact re-rank (FAISS IndexIVFPQ+RefineFlat shape).
    // Rows-only: the ANN regime prunes cells, so the top-k is
    // approximate by design; q146b anchors the lossless regime.
    "q146_ivfpq_knn" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      IvfPq.ivfPqTopK(e, e.filter(col("vec_id") < 5), dim = 64,
          nCentroids = 16, m = 8, k = 16, topK = 10, nProbe = 4,
          refine = 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // lossless-regime anchor (the q57b/q117b pattern): probe-all over
    // the capped corpus and a shortlist covering every candidate
    // (10×20 ≥ 199), so the exact re-rank IS brute-force L2 — hash
    // oracle against DuckDB list_distance
    "q146b_ivfpq_exact" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      IvfPq.ivfPqTopK(e.filter(col("vec_id") < 200),
          e.filter(col("vec_id") < 5), dim = 64, nCentroids = 8,
          m = 8, k = 16, topK = 10, nProbe = 8, refine = 20)
        .orderBy(col("query_id"), col("rank"))
    }),

    // incremental IVF-PQ maintenance (the q345 pattern on the
    // compressed index): build on vec_id >= 10 of the capped corpus —
    // so centroids AND codebooks never saw the delta — add vec_id <
    // 10 with frozen books, then probe all cells with a shortlist
    // covering every candidate: the exact re-rank makes the result
    // brute-force L2 over the union regardless of code quality, and
    // q146b's oracle applies verbatim
    "q349_ivfpq_incremental" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val capped = e.filter(col("vec_id") < 200)
      val (cent, codes, cb) = IvfPq.build(
        capped.filter(col("vec_id") >= 10), dim = 64, nCentroids = 8,
        m = 8, k = 16)
      val grown = IvfPq.add(cent, codes, cb,
        capped.filter(col("vec_id") < 10))
      IvfPq.search(cent, grown, cb, e.filter(col("vec_id") < 5),
          capped, topK = 10, nProbe = 8, refine = 20)
        .orderBy(col("query_id"), col("rank"))
    }),

    // full covariance matrix of the embedding corpus as exact
    // relational algebra — upper-triangle xx^T generated map-side per
    // row (no self-join), one groupBy(i,j); q119's fit decomposes it
    "q118_covariance" -> ((s, d) =>
      Pca.covarianceMatrix(Tables.embeddings(s, d), dim = 64)
        .orderBy(col("i"), col("j"))),

    // PCA projection to 8 components, HASH-GRADEABLE via the q47/q48
    // staging pattern: components are fit DETERMINISTICALLY from exact
    // inputs (micro-int mean + the exact q118 covariance, fixed-sweep
    // driver Jacobi), quantized to micro-ints and PERSISTED; both
    // engines then replay the projection as exact integer algebra over
    // (embeddings ⋈ staged components) — the oracle independently
    // recomputes every dot product, only the dim-bounded fitted
    // weights pass through. Output is scalar (vec_id, component,
    // value) rows (an array column broke the driver's pandas sort at
    // r07). PcaSpec pins the fit and projection (eigen property,
    // planted-direction recovery, reconstruction).
    "q119_pca_project" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val comps = Pca.fitExactMicro(e, dim = 64, k = 8)
      comps.toTable(s).coalesce(1).write.mode("overwrite")
        .parquet(s"${MLQueries.stageDir(d)}/q119")
      val staged = s.read.parquet(s"${MLQueries.stageDir(d)}/q119")
      Pca.projectExact(e, staged, dim = 64)
        .orderBy(col("vec_id"), col("component"))
    }),

    // embedding-cosine similar pairs above threshold (exact)
    "q36_cosine_pairs" -> ((s, d) =>
      Similarity.bruteForceSelfPairs(Tables.embeddings(s, d), 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // vector column stats: norm + component mean
    "q37_embed_stats" -> ((s, d) => {
      val v = Similarity.asDouble(col("embedding"))
      Tables.embeddings(s, d).select(col("vec_id"), col("label"),
          round(Similarity.norm(v), 4).as("norm"),
          round(aggregate(v, lit(0.0), (a, x) => a + x) /
            nullif(size(v), lit(0)), 4).as("mean_val"))
        .orderBy(col("vec_id"))
    }),

    // SimHash fingerprints — md5-based native expression, exact DuckDB
    // twin (bit votes recomputed from the md5 hex halves in SQL)
    "q38_simhash" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          TextFns.simhash64(col("text")).as("simhash"))
        .orderBy(col("doc_id"))),

    // MinHash-LSH candidate pairs (banded bucketing; exact oracle —
    // the band join is reproduced on the raw signature pairs in SQL)
    "q39_minhash_lsh_pairs" -> ((s, d) =>
      Dedup.minhashLshPairs(Tables.documents(s, d), k = 8, bands = 4, n = 1)
        .orderBy(col("id_a"), col("id_b"))),

    // self-audit of the banded LSH path against the exact Jaccard
    // ground truth: candidate precision + recall, one summary row
    "q198_lsh_quality" -> ((s, d) =>
      Dedup.lshQuality(Tables.documents(s, d), k = 8, bands = 4,
        n = 1, threshold = 0.6, maxDf = 400)),

    // split-leakage audit: near-dup pairs bucketed by the split sides
    // of their endpoints — cross-split rows are eval contamination
    "q215_split_leakage" -> ((s, d) =>
      Dedup.splitLeakage(Tables.documents(s, d), n = 1,
          threshold = 0.6, maxDf = 400)
        .orderBy(col("split_a"), col("split_b"))),

    // corpus-wide exact-dedup token savings billed per source
    "q218_dedup_savings" -> ((s, d) =>
      Dedup.dedupSavings(Tables.documents(s, d))
        .orderBy(col("source"))),

    // per-doc bigram novelty vs everything ingested before it
    "q232_gram_novelty" -> ((s, d) =>
      Relevance.gramNovelty(Tables.documents(s, d), n = 2)
        .orderBy(col("doc_id"))),

    // PII incidence audit per source (the scrub patterns as flags)
    "q233_pii_incidence" -> ((s, d) =>
      graft.operators.QualityFilters.piiIncidence(
        Tables.documents(s, d)).orderBy(col("source"))),

    // per-doc line-shape profile: bullet / caps / numeric / short
    // line counts with exact ratios — zero-shuffle map HOFs
    "q199_line_shape" -> ((s, d) =>
      graft.operators.QualityFilters.lineShapeStats(
        Tables.documents(s, d)).orderBy(col("doc_id"))),

    // per-doc OOV share vs the corpus' own top-1000 vocabulary
    "q200_oov_rate" -> ((s, d) =>
      Relevance.oovRate(Tables.documents(s, d), 1000)
        .orderBy(col("doc_id"))),

    // corpus token Lorenz deciles: who holds the tokens
    "q211_token_lorenz" -> ((s, d) =>
      Relevance.tokenLorenz(Tables.documents(s, d), 10)
        .orderBy(col("bucket"))),

    // embedding L2-norm profile + per-label outlier flags — exact
    // decimal moments, no float agg order
    "q212_norm_outliers" -> ((s, d) =>
      graft.operators.EmbeddingStats.normOutliers(
        Tables.embeddings(s, d)).orderBy(col("vec_id"))),

    // multimodal plumbing: binary payloads → partition-local decode
    // (decode itself is a deterministic stub; see Multimodal scaladoc)
    "q50_media_features" -> ((s, d) =>
      Multimodal.extractFeatures(
          Multimodal.asMedia(Tables.documents(s, d)))
        .select(col("doc_id"), col("media_type"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy(col("doc_id"))),

    // REAL image decode round trip (pure-JVM codec, no stub): each doc
    // gets an actual grayscale PNG encoded from a doc_id-seeded raster
    // (pixel(x,y) = (doc_id + 7x + 13y) mod 256, W = 4 + id%13,
    // H = 4 + id%7; the encoder cycles all five PNG filters by row);
    // PixelDecoder reconstructs pixels through zlib inflate + scanline
    // unfiltering, and the emitted stats come from the DECODED raster.
    // The oracle computes the same integer stats from the generative
    // formula — it never touches bytes — so a hash match proves the
    // encode→decode trip is pixel-exact. Encode+decode are one
    // partition-local map: linear, no shuffle, scales with executors
    "q100_decode_image" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (4 + id % 13).toInt
          val h = (4 + id % 7).toInt
          val px = Array.tabulate(w * h)(i =>
            ((id + 7 * (i % w) + 13 * (i / w)) % 256).toInt)
          Multimodal.MediaRow(id, "image",
            MediaCodecs.encodePng(MediaCodecs.GrayImage(w, h, px)))
        }).toDF()
      Multimodal.extractFeatures(media, Multimodal.PixelDecoder)
        .filter(col("valid")) // failed decode → row-count mismatch, loud
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          (col("width") * col("height")).cast("long").as("n_pixels"),
          col("checksum").as("luma_sum"))
        .orderBy(col("doc_id"))
    }),

    // REAL audio decode round trip (PCM-16 WAV): doc_id-seeded samples
    // s(i) = ((id·97 + 31i) mod 4096) − 2048 over n = 256 + id%64,
    // encoded as a real RIFF/WAVE payload and decoded back by the chunk
    // walker; sum|s| and sum s² are computed from the DECODED samples
    // as exact BIGINTs while the oracle evaluates the formula directly
    "q101_decode_audio" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (256 + id % 64).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 97 + i * 31) % 4096) - 2048).toInt)
          Multimodal.MediaRow(id, "audio",
            MediaCodecs.encodeWav(MediaCodecs.PcmAudio(16000, samples)))
        }).toDF()
      Multimodal.audioStats(media)
        .filter(col("valid")) // failed decode → row-count mismatch, loud
        .select(col("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), col("sum_abs"), col("sum_sq"))
        .orderBy(col("doc_id"))
    }),

    // image near-dup pairs via perceptual hash: REAL PNG round trip →
    // 32×32 pool → 8×8 DCT sign bits → the SAME banded-Hamming join
    // as text SimHash. Fixture plants sibling pairs (odd id = its
    // even sibling's image with one perturbed pixel). Rows-only
    // (double-precision DCT has no SQL replay); ImageHashSpec pins
    // hash stability, perturbation tolerance, and discrimination.
    "q131_image_phash_pairs" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val base = id / 2
          val w = (16 + base % 13).toInt
          val h = (16 + base % 7).toInt
          val px = Array.tabulate(w * h)(i =>
            ((base * 3 + 7 * (i % w) + 13 * (i / w)) % 256).toInt)
          if (id % 2 == 1) px(0) = (px(0) + 8) % 256
          Multimodal.MediaRow(id, "image",
            MediaCodecs.encodePng(MediaCodecs.GrayImage(w, h, px)))
        }).toDF()
      val hashed = Multimodal.imagePhash(media).filter(col("valid"))
      // staging gate: pHashes persisted; the oracle replays the pair
      // search as an exact all-pairs bit_count(xor) join — 4×16-bit
      // banding at maxHamming=3 is EXACT by pigeonhole (3 differing
      // bits touch ≤3 of 4 bands), so the operator must equal it
      hashed.select(col("doc_id"), col("phash")).coalesce(1)
        .write.mode("overwrite")
        .parquet(s"${MLQueries.stageDir(d)}/q131")
      Dedup.hammingBandPairs(hashed, "phash", "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // image near-dup GROUPS: the q131 verified edges fed to converged
    // min-label propagation — each image labeled with its component's
    // canonical id (rows-only; the DCT hashes have no SQL replay)
    "q134_image_dedup_groups" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val base = id / 2
          val w = (16 + base % 13).toInt
          val h = (16 + base % 7).toInt
          val px = Array.tabulate(w * h)(i =>
            ((base * 3 + 7 * (i % w) + 13 * (i / w)) % 256).toInt)
          if (id % 2 == 1) px(0) = (px(0) + 8) % 256
          Multimodal.MediaRow(id, "image",
            MediaCodecs.encodePng(MediaCodecs.GrayImage(w, h, px)))
        }).toDF()
      val hashed = Multimodal.imagePhash(media).filter(col("valid"))
      // staging gate: pHashes persisted; the oracle recomputes the
      // exact hamming≤3 edge set and the connected-component minimum
      // via a recursive-CTE transitive closure — the converged
      // label-propagation result must match it exactly
      hashed.select(col("doc_id"), col("phash")).coalesce(1)
        .write.mode("overwrite")
        .parquet(s"${MLQueries.stageDir(d)}/q134")
      Dedup.hammingDedupGroups(hashed, "phash", "doc_id",
          maxHamming = 3)
        .orderBy(col("doc_id"))
    }),

    // frame-level audio activity over the same REAL WAV round trip:
    // zero crossings, peak, 256-sample frame energies + integer
    // voice-activity gate — all exact BIGINTs from DECODED samples
    // while the oracle evaluates the generative formula
    "q123_audio_features" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (256 + id % 64).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 97 + i * 31) % 4096) - 2048).toInt)
          Multimodal.MediaRow(id, "audio",
            MediaCodecs.encodeWav(MediaCodecs.PcmAudio(16000, samples)))
        }).toDF()
      Multimodal.audioActivity(media, frameLen = 256,
          activeEnergyPerSample = 1400000L)
        .filter(col("valid"))
        .select(col("doc_id"), col("n_samples"), col("zero_crossings"),
          col("peak_abs"), col("n_frames"), col("max_frame_energy"),
          col("n_active_frames"))
        .orderBy(col("doc_id"))
    }),

    // spectral shape over the same WAV round trip via the pure-JVM
    // FFT, graded via staging: the REAL decode+FFT happens once
    // (audioSpectrum → quantized per-bin mean power persisted); both
    // engines then replay the feature algebra — centroid (exact
    // integer ratio, 1dp), rolloff (exact integer cumulative
    // threshold), flatness (micro-nat lift, the q88 scheme) — over the
    // staged bins. DspSpec pins the FFT and the power spectrum on
    // analytically-known signals.
    // The per-bin micro-nat ln is STAGED too (r08 advice): Java
    // Math.log and DuckDB's libm are not bit-identical, so a value
    // within an ulp of a 6dp boundary could flip lnsum between
    // engines if each recomputed ln(p6) per bin (~bins×docs flip
    // opportunities). With ln6 computed once Spark-side and persisted
    // next to p6, both engines replay ONLY exact integer sums; the
    // single residual transcendental is flatness' one exp per doc
    // over identical integer-derived inputs.
    "q129_spectral" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (256 + id % 64).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 97 + i * 31) % 4096) - 2048).toInt)
          Multimodal.MediaRow(id, "audio",
            MediaCodecs.encodeWav(MediaCodecs.PcmAudio(16000, samples)))
        }).toDF()
      Multimodal.audioSpectrum(media)
        .withColumn("ln6",
          (round(log(col("p6") / lit(1000000) + lit(1e-12)), 6)
            .cast("decimal(28,6)") * 1000000).cast("long"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(s"${MLQueries.stageDir(d)}/q129")
      val st = s.read.parquet(s"${MLQueries.stageDir(d)}/q129")
      val dec = (c: org.apache.spark.sql.Column) =>
        c.cast("decimal(38,0)")
      val agg = st
        .groupBy(col("doc_id"), col("n_samples"), col("sample_rate"))
        .agg(sum(dec(col("p6"))).as("tot"),
          sum(dec(col("p6")) * col("bin")).as("wsum"),
          count(lit(1)).as("nb"),
          sum(col("ln6")).as("lnsum"))
        .filter(col("tot") > 0)
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("bin"))
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
      val rolled = st
        .withColumn("cum", sum(dec(col("p6"))).over(wc))
        .withColumn("t", sum(dec(col("p6"))).over(wt))
        .filter(col("cum") * 100 >= col("t") * 85)
        .groupBy(col("doc_id")).agg(min(col("bin")).as("roll"))
      agg.join(rolled, Seq("doc_id"))
        .select(col("doc_id"), col("n_samples"),
          graft.functions.ExactRound.ratio(
              col("wsum") * col("sample_rate") * 10,
              col("tot") * 256, 0).divide(lit(10.0)).as("centroid_hz"),
          (col("roll") * col("sample_rate") / lit(256.0))
            .as("rolloff_hz"),
          round(exp(col("lnsum").cast("double")
              / (col("nb") * lit(1000000.0)))
            / (col("tot").cast("double")
              / (col("nb") * lit(1000000.0))), 6).as("flatness"))
        .orderBy(col("doc_id"))
    }),

    // Efraimidis-Spirakis weighted sample without replacement:
    // length-proportional corpus subsample (weight = n_chars), 100
    // rows, deterministic md5 keys — exact oracle replays the ranking
    "q124_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.weightedSample(
          Tables.documents(s, d).select(col("doc_id"),
            col("n_chars").cast("long").as("n_chars")),
          k = 100, weightCol = "n_chars", keyCol = "doc_id")
        .orderBy(col("doc_id"))),

    // dedup-rate report per source: docs vs distinct content
    // fingerprints — the corpus-report rollup over q32's fingerprint
    "q125_dup_rate_by_source" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), TextFns.fingerprint(col("text")).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"))
        .withColumn("dup_rate", graft.functions.ExactRound.ratio(
          col("n_docs") - col("n_unique"), col("n_docs"), 6))
        .orderBy(col("source"))),

    // language-ID confusion matrix: declared lang × q30's n-gram
    // heuristic guess — the langid quality report
    "q126_langid_confusion" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), TextFns.langId(col("text")).as("lang_guess"))
        .groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_guess"))),

    // REAL video-shaped frame sampling: each doc gets an actual
    // animated GIF (2 + id%5 frames; frame f is a sub-rect of
    // W = 4+(id+f)%9 by H = 3+(id+2f)%6 with pixel(x,y) =
    // (id + 11f + 7x + 13y) mod 256, REAL LZW-compressed); the
    // operator decodes the container (palette + LZW + sub-blocks) and
    // keeps every 2nd frame. Stats come from DECODED pixels; the
    // oracle unrolls the generative formula per sampled frame — a hash
    // match proves the whole container round trip. A failed decode
    // yields no rows → row-count mismatch, loud
    "q102_frame_sample_gif" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val frames = (0 until (2 + id % 5).toInt).map { f =>
            val w = (4 + (id + f) % 9).toInt
            val h = (3 + (id + 2 * f) % 6).toInt
            MediaCodecs.GifFrame(0, 0, w, h,
              Array.tabulate(w * h)(i =>
                ((id + 11 * f + 7 * (i % w) + 13 * (i / w)) % 256).toInt),
              delayCs = 5)
          }
          Multimodal.MediaRow(id, "video", MediaCodecs.encodeGif(
            frames.map(_.width).max, frames.map(_.height).max, frames))
        }).toDF()
      Multimodal.frameSampleGif(media, everyK = 2)
        .orderBy(col("doc_id"), col("frame_no"))
    }),

    // REAL color-PNG decode round trip across ALL three color encodings
    // (doc_id%3 rotates truecolor / palette+PLTE / RGBA) AND both
    // stream layouts (doc_id%2 rotates linear vs Adam7 interlaced):
    // channel(i) = (c·id + k·i) mod 256 rasters of W = 4+id%11 by
    // H = 4+id%5, encoded with the per-row filter cycle and decoded
    // back through the bpp-aware (per-pass, for Adam7) unfilter; the
    // emitted per-channel sums come from the DECODED ARGB raster while
    // the oracle evaluates the generative formula (alpha is the formula
    // channel only for RGBA, constant 255 for the opaque types) — a
    // hash match proves palette indexing, multi-byte-pixel filtering,
    // deinterlacing, and alpha all round-trip exactly. Encode+decode
    // stay one partition-local map: linear, no shuffle
    "q103_decode_color_png" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ct = (id % 3) match { case 0 => 2; case 1 => 3; case _ => 6 }
          val w = (4 + id % 11).toInt
          val h = (4 + id % 5).toInt
          val px = Array.tabulate(w * h) { i =>
            val r = ((id + 3 * i) % 256).toInt
            val g = ((2 * id + 5 * i) % 256).toInt
            val b = ((3 * id + 7 * i) % 256).toInt
            val a = if (ct == 6) ((5 * id + 11 * i) % 256).toInt else 255
            (a << 24) | (r << 16) | (g << 8) | b
          }
          Multimodal.MediaRow(id, "image", MediaCodecs.encodePngArgb(
            MediaCodecs.PngImage(w, h, ct, px),
            interlaced = id % 2 == 0))
        }).toDF()
      Multimodal.colorStats(media)
        .filter(col("valid")) // failed decode → row-count mismatch, loud
        .select(col("doc_id"),
          col("color_type").cast("long").as("color_type"),
          col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"), col("sum_a"))
        .orderBy(col("doc_id"))
    }),

    // random-hyperplane LSH bucketed cosine pairs (ANN scale path).
    // Oracle: the hyperplanes are deterministic (seeded), so their
    // literals are inlined into the generated SQL — same buckets, same
    // pairs, same double-precision cosine.
    "q40_lsh_cosine_pairs" -> ((s, d) =>
      Similarity.cosineSelfPairs(Tables.embeddings(s, d), 0.3,
          planesPerBand = 6, bands = 8)
        .orderBy(col("id_a"), col("id_b"))),

    // MinHash-LSH dedup as linear cluster labeling (the scale-correct
    // output shape: one canonical id per doc, never pair enumeration),
    // propagated to convergence — the oracle is the TRUE connected
    // components of the shared-bucket graph (recursive CTE), so a
    // fixed-round under-merge would hash-mismatch
    "q58_dedup_groups" -> ((s, d) =>
      Dedup.minhashDedupGroups(Tables.documents(s, d), k = 8, bands = 4,
          n = 2)
        .orderBy(col("doc_id"))),

    // BPE-ish regex pre-tokenization stats (letter/digit/symbol runs).
    // Two-step select: the extraction is materialized once, then the
    // four consumers read the bound column (CollapseProject keeps
    // non-cheap expressions out of multi-consumer inlining).
    "q60_bpe_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFns.bpePieces(col("text")).as("_p"))
        .select(col("doc_id"),
          size(col("_p")).cast("long").as("n_pieces"),
          size(filter(col("_p"), x => x.rlike("^[A-Za-z]"))).cast("long")
            .as("n_word"),
          size(filter(col("_p"), x => x.rlike("^[0-9]"))).cast("long")
            .as("n_num"),
          graft.functions.ExactRound.ratio(
            aggregate(col("_p"), lit(0L), (a, x) => a + length(x)),
            nullif(size(col("_p")), lit(0)), 4)
            .as("mean_piece_len"))
        .orderBy(col("doc_id"))),

    // order-sensitive rolling-hash fingerprint (native expression)
    "q61_rolling_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          TextFns.rollingFingerprint(col("text")).as("fp64"))
        .orderBy(col("doc_id"))),

    // Exact interpolated percentiles per (lang, source) — corpus length
    // profiling for quality filtering. Exercises the spark.sql() surface
    // over a registered view (the rest of the inventory uses the
    // DataFrame API); Spark `percentile` and DuckDB `quantile_cont`
    // share the linear-interpolation definition, so 4dp rounding is
    // hash-exact.
    "q63_char_percentiles" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("documents_v")
      s.sql("""SELECT lang, source, count(*) AS n_docs,
          CAST(min(n_chars) AS BIGINT) AS min_chars,
          round(percentile(n_chars, 0.5), 4) AS p50_chars,
          round(percentile(n_chars, 0.9), 4) AS p90_chars,
          CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM documents_v GROUP BY lang, source ORDER BY lang, source""")
    }),

    // deterministic hash split: stable, nested, engine-portable — the
    // reproducible corpus train/val/test assignment
    "q65_hash_split" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          graft.operators.Sampling.hashBucket(col("doc_id"))
            .as("bucket"),
          graft.operators.Sampling.assignSplit(col("doc_id"))
            .as("split"))
        .orderBy(col("doc_id"))),

    // per-(epoch, shard) manifest of the deterministic epoch shuffle —
    // md5(epoch:key) shard assignment, no global sort
    "q192_shard_manifest" -> ((s, d) =>
      graft.operators.Sampling.shardManifest(Tables.documents(s, d),
          epochs = 3, shards = 8)
        .orderBy(col("epoch"), col("shard"))),

    // padding-efficiency ledger for length-bucketed batching —
    // all-integer until the final bridge ratio
    "q193_padding_waste" -> ((s, d) =>
      graft.operators.Packing.paddingWaste(Tables.documents(s, d),
          binSize = 64, batchSize = 8)
        .orderBy(col("bin"))),

    // embedding centroid drift between the corpus id-halves — exact
    // scaled-long sums, counts cancel inside the cosine
    "q194_centroid_drift" -> ((s, d) =>
      graft.operators.EmbeddingStats.centroidDrift(
        Tables.embeddings(s, d))),

    // kNN-digraph in-degree histogram — the hubness pathology audit
    "q288_hubness" -> ((s, d) =>
      graft.operators.Similarity.hubness(Tables.embeddings(s, d), 5)
        .orderBy(col("in_degree"))),

    // leave-one-out 5-NN majority-vote accuracy per label
    "q269_knn_classifier" -> ((s, d) =>
      graft.operators.Similarity.knnClassify(Tables.embeddings(s, d), 5)
        .orderBy(col("label"))),

    // nearest-centroid accuracy per label — the linear scale path
    "q270_centroid_classifier" -> ((s, d) =>
      graft.operators.EmbeddingStats.centroidClassify(
          Tables.embeddings(s, d))
        .orderBy(col("label"))),

    // centroid-based silhouette per label cluster — exact scaled-int
    // distances, order-free 6dp means
    "q243_silhouette" -> ((s, d) =>
      graft.operators.EmbeddingStats.silhouette(Tables.embeddings(s, d))
        .orderBy(col("label"))),

    // Davies-Bouldin scatter/separation per label with worst neighbor
    "q244_davies_bouldin" -> ((s, d) =>
      graft.operators.EmbeddingStats.daviesBouldin(
          Tables.embeddings(s, d))
        .orderBy(col("label"))),

    // per-source downsampling cap: ≤10 docs per source, picked by hash
    // order — deterministic, nested in k, one shuffle on the group key
    "q66_source_cap" -> ((s, d) =>
      graft.operators.Sampling.capPerGroup(
          Tables.documents(s, d).select("doc_id", "source"),
          groupCol = "source", keyCol = "doc_id", k = 10)
        .orderBy(col("doc_id"))),

    // benchmark decontamination: corpus docs scored by 5-gram-shingle
    // overlap with a broadcast eval-set index (docs 0-49 as the "eval
    // set") — no shuffle of corpus bytes, exchange bounded by hit count.
    // 5-grams discriminate: ~2% of corpus docs hit at all (the true
    // near-copies); bigrams would flag everything
    "q69_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Decontaminate.contaminationStats(
          docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50), n = 5, threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // exact-substring span decontamination (Lee et al. 2022 ExactSubstr):
    // maximal >= 10-token verbatim spans vs the same eval set, merged
    // from positional 10-gram hits — the surgical span-removal
    // complement of q69's whole-doc shingle scoring
    "q95_exact_substr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Decontaminate.exactSubstrStats(
          docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50), minTokens = 10)
        .orderBy(col("doc_id"))
    }),

    // WITHIN-corpus exact-substring dedup (Lee et al. primary mode):
    // every >= 10-token span occurring more than once in the corpus is
    // flagged everywhere but its first (doc_id, pos) occurrence — the
    // relational suffix-array substitute (occurrence rank per positional
    // gram, then island merge)
    "q96_self_substr" -> ((s, d) =>
      graft.operators.Decontaminate.selfExactSubstrStats(
          Tables.documents(s, d), minTokens = 10)
        .orderBy(col("doc_id"))),

    // within-doc repetition signals (Gopher-style): dup-token, top-token
    // and dup-bigram fractions — boilerplate/loop detection
    "q70_repetition" -> ((s, d) =>
      graft.operators.Repetition.profile(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // deterministic corpus mixing: per-lang keep fractions via the
    // nested hash threshold — a map-side filter, no shuffle; raising a
    // weight only adds docs
    "q71_mix" -> ((s, d) =>
      graft.operators.Sampling.mixByWeights(
          Tables.documents(s, d).select("doc_id", "lang"),
          groupCol = "lang", keyCol = "doc_id",
          weights = Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25),
          defaultWeight = 0.1)
        .orderBy(col("doc_id"))),

    // α-temperature mixture: keep-fractions ∝ n_lang^0.5 mass, nested
    // md5-hash membership — the multilingual pretraining reweight
    "q82_temperature_mix" -> ((s, d) =>
      graft.operators.Sampling.temperatureMix(
          Tables.documents(s, d).select("doc_id", "lang"),
          groupCol = "lang", keyCol = "doc_id",
          alpha = 0.5, sampleFraction = 0.5)
        .orderBy(col("doc_id"))),

    // corpus-frequency boilerplate strip (RefinedWeb line-dedup shape)
    // at token granularity on the single-line fixture: tokens verbatim
    // in ≥450 of 500 docs are "boilerplate" and removed order-preserving
    "q86_strip_boilerplate" -> ((s, d) =>
      graft.operators.Boilerplate.stripFrequentLines(
          Tables.documents(s, d), minDocs = 450,
          splitPattern = "\\s+", joinWith = " ")
        .orderBy(col("doc_id"))),

    // epoch repetition (the upsampling half of the mix): de gets 2
    // full epochs + a deterministic 50% third; fr exactly 1; en 0.75
    "q83_upsample_epochs" -> ((s, d) =>
      graft.operators.Sampling.upsampleByWeights(
          Tables.documents(s, d).select("doc_id", "lang"),
          groupCol = "lang", keyCol = "doc_id",
          weights = Map("de" -> 2.5, "fr" -> 1.0, "en" -> 0.75),
          defaultWeight = 1.0)
        .orderBy(col("doc_id"), col("epoch"))),

    // sequence packing (concat-and-chunk): per-shard token tape via one
    // window cumsum → fixed 256-token sequence coordinates per doc
    "q72_pack" -> ((s, d) =>
      graft.operators.Packing.packCoordinates(Tables.documents(s, d),
          seqLen = 256)
        .orderBy(col("doc_id"))),

    // multimodal frame sampling: every-64th-byte digest per payload —
    // the explode-to-frames shape of a video pipeline, exact oracle
    // because the fixture payloads are ASCII text bytes (byte ≡ char)
    "q73_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.asMedia(Tables.documents(s, d)), everyK = 64)
        .select(col("doc_id"),
          col("frame_no").cast("long").as("frame_no"),
          col("frame_digest").cast("long").as("frame_digest"))
        .orderBy(col("doc_id"), col("frame_no"))),

    // PII scrub + whitespace canonicalization (fixture is PII-free, so
    // the oracle checks the normalization path and zero counts; planted
    // PII behavior is pinned by TextCleanSpec)
    "q74_scrub" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          graft.functions.TextClean.scrub(col("text")).as("clean_text"),
          graft.functions.TextClean.emailCount(col("text"))
            .as("n_emails"),
          graft.functions.TextClean.urlCount(col("text")).as("n_urls"))
        .orderBy(col("doc_id"))),

    // Unicode canonicalization (corpus-prep step 0): control/zero-width
    // strip, space-variant mapping, whitespace collapse — with the
    // pre-clean junk count for gating. Fixture text is clean ASCII, so
    // the oracle pins the identity path + zero counts; planted-unicode
    // behavior is pinned by TextCleanSpec
    "q99_canonicalize" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          graft.functions.TextClean.canonicalize(col("text"))
            .as("clean_text"),
          graft.functions.TextClean.nonCanonicalCount(col("text"))
            .as("n_noncanonical"))
        .orderBy(col("doc_id"))),

    // Gopher/MassiveText rule-by-rule quality gate (Rae et al. 2021,
    // A1.1): seven named flags + keep conjunction, every threshold
    // compared in integer arithmetic (no float division on the keep
    // path). minWords=10 so the word-count rule discriminates on the
    // fixture's short synthetic docs; line rules (degenerate here — no
    // newlines in fixture text) are pinned on crafted multi-line docs
    // by QualityFiltersSpec
    "q104_gopher_rules" -> ((s, d) =>
      graft.operators.QualityFilters
        .gopherFlags(Tables.documents(s, d), minWords = 10)
        .orderBy(col("doc_id"))),

    // per-source corpus quality report: the Gopher keep rate and the
    // fingerprint dup rate rolled into one dashboard row per source —
    // the composition a corpus report page renders
    "q141_source_quality_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val flags = graft.operators.QualityFilters
        .gopherFlags(docs, minWords = 10)
        .select(col("doc_id"), col("keep"))
      docs.select(col("doc_id"), col("source"),
          TextFns.fingerprint(col("text")).as("fp"))
        .join(flags, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep")).as("n_keep"),
          countDistinct(col("fp")).as("n_unique"))
        .withColumn("keep_rate", graft.functions.ExactRound.ratio(
          col("n_keep"), col("n_docs"), 6))
        .withColumn("dup_rate", graft.functions.ExactRound.ratio(
          col("n_docs") - col("n_unique"), col("n_docs"), 6))
        .orderBy(col("source"))
    }),

    // cross-subcorpus contamination: bigram-type overlap between every
    // source pair — the mixing-weight sanity check (two near-identical
    // sources double-count under weighted mixing). Type-level distinct
    // first, then a gram-keyed pair join: never all-pairs over docs
    "q105_source_overlap" -> ((s, d) =>
      graft.operators.CorpusOverlap
        .sourceNgramOverlap(Tables.documents(s, d), n = 2)
        .orderBy(col("source_a"), col("source_b"))),

    // per-source Zipf fit: ln(freq)-on-ln(rank) least squares — the
    // vocabulary-health diagnostic (natural text ≈ slope −1)
    "q127_zipf_slope" -> ((s, d) =>
      Relevance.zipfSlope(Tables.documents(s, d))
        .orderBy(col("source"))),

    // per-label embedding centroids: exact decimal element sums, one
    // double division — the embedding-drift report's anchor table
    "q128_label_centroids" -> ((s, d) =>
      graft.operators.EmbeddingStats
        .groupCentroids(Tables.embeddings(s, d))
        .select(col("g").cast("long").as("label"), col("i"), col("n"),
          col("c"))
        .orderBy(col("label"), col("i"))),

    // pairwise Jensen-Shannon divergence between source unigram
    // DISTRIBUTIONS — the frequency-weighted complement of q105's
    // vocabulary-set overlap; q87's decimal log-sum rigor end to end
    "q122_js_divergence" -> ((s, d) =>
      graft.operators.CorpusOverlap
        .sourceJsDivergence(Tables.documents(s, d))
        .orderBy(col("source_a"), col("source_b"))),

    // token-budget corpus selection: greedy prefix of the
    // (quality DESC, doc_id) order while cumulative tokens fit. The
    // cumsum is a distributed two-phase prefix scan (range repartition
    // + per-partition windows + broadcast offsets) — NOT the
    // single-partition global window the naive SQL implies; the oracle
    // checks the two formulations agree exactly
    "q106_budget_select" -> ((s, d) =>
      graft.operators.BudgetSelect
        .selectByTokenBudget(Tables.documents(s, d), tokenBudget = 3000L)
        .orderBy(col("cum_tokens"))),

    // quality-aware canonical selection: the best-scored copy survives
    // each fingerprint (token-set) dup group, id tiebreak — one window
    // partition carries both the rank and the group size
    "q75_canonical_by_quality" -> ((s, d) =>
      Dedup.canonicalByQuality(Tables.documents(s, d),
          TextFns.qualityScore(col("text")))
        .orderBy(col("group_key"))),

    // embedding near-dup GROUPS: connected components of the cosine
    // pair graph as linear labels, propagated to convergence so they
    // equal the true components the recursive-CTE oracle computes for
    // ANY component diameter. Exact edge strategy = the oracle twin
    "q76_embed_dedup_groups" -> ((s, d) =>
      Dedup.embeddingNearDupGroups(Tables.embeddings(s, d),
          strategy = "exact", threshold = 0.4)
        .orderBy(col("vec_id"))),

    // the same GROUPS shape on the LSH candidate graph — the 100 TB
    // edge generator, oracle-visible: the seeded hyperplanes are
    // replayed as SQL literals (the q40 technique) and the components
    // come from the same recursive closure, so the scale path itself
    // gets a hash oracle (its recall vs exact is spec-pinned, not
    // oracle-pinned — the two graphs legitimately differ)
    "q76b_embed_dedup_lsh" -> ((s, d) =>
      Dedup.embeddingNearDupGroups(Tables.embeddings(s, d),
          strategy = "lsh", threshold = 0.4)
        .orderBy(col("vec_id"))),

    // SemDeDup (arXiv:2303.09540): cluster the embedding space, then
    // within each cluster drop near-dups (cosine >= tau vs a
    // clustermate), keeping the least-prototypical member of each dup
    // neighborhood. Seed-centroid init (k smallest ids) is the
    // oracle-replayable configuration — assignment, domination, and
    // the keep rule are then exact relational algebra
    "q107_semantic_dedup" -> ((s, d) =>
      graft.operators.SemDedup
        .semanticDedup(Tables.embeddings(s, d), k = 8, tau = 0.4)
        .orderBy(col("vec_id"))),

    // D4 (arXiv:2308.12284) diversification on the SemDeDup survivors:
    // keep the half of each cluster FARTHEST from its centroid — the
    // prototypical near-centroid tail goes first
    "q109_diversify" -> ((s, d) =>
      graft.operators.SemDedup.diversify(
        graft.operators.SemDedup
          .semanticDedup(Tables.embeddings(s, d), k = 8, tau = 0.4),
        keepFraction = 0.5).orderBy(col("vec_id"))),

    // per-language length-outlier winsorization gate: exact
    // interpolated [p01, p99] bounds per lang (tiny aggregate,
    // broadcast back), map-side compare — drops truncated fragments
    // and concatenation accidents before training
    // robust per-source length outliers: median/MAD gate — the
    // heavy-tail-safe twin of q116's percentile winsorization
    "q120_mad_outliers" -> ((s, d) =>
      graft.operators.QualityFilters
        .madOutlierFlags(Tables.documents(s, d))
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          col("med"), col("mad"), col("is_inlier"))
        .orderBy(col("doc_id"))),

    // directed bigram-shingle containment pairs — catches subset
    // duplication Jaccard (q34) misses; same posting-list plan shape
    "q121_containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), n = 2,
          threshold = 0.8, maxDf = 400)
        .orderBy(col("id_a"), col("id_b"))),

    // containment via MinHash estimation — the LSH scale path of
    // q121 (no posting-list fan-out at all); the all-integer estimator
    // is exactly reproducible cross-engine despite being statistical
    "q133_containment_lsh" -> ((s, d) =>
      Dedup.containmentEstimatePairs(Tables.documents(s, d), k = 8,
          bands = 4, n = 2, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))),

    "q116_length_outliers" -> ((s, d) =>
      graft.operators.QualityFilters
        .lengthOutlierFlags(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          col("lo"), col("hi"), col("within_bounds"))
        .orderBy(col("doc_id"))),

    // stratified split with EXACT per-label proportions: md5-ordered
    // rank within each label, first ceil(0.8·n) rows are train —
    // unlike q65's per-row residue, every class lands its exact count
    "q115_stratified_split" -> ((s, d) =>
      graft.operators.Sampling.stratifiedSplit(
          Tables.embeddings(s, d).select(col("vec_id"),
            col("label").cast("long").as("label")),
          labelCol = "label", keyCol = "vec_id")
        .select(col("vec_id"), col("label"), col("split"))
        .orderBy(col("vec_id"))),

    // sliding-window document chunking (size 32, stride 24 — 8-token
    // overlap): the chunk-for-embedding primitive; Generate over the
    // bound token array, no shuffle, exact relational algebra
    "q114_chunk" -> ((s, d) =>
      graft.operators.Packing.chunk(Tables.documents(s, d),
          size = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // model-based quality scoring (CCNet recipe): hashed-token
    // logistic classifier trained against a reference register (the
    // 'en' slice stands in for the wiki set on this fixture), scored
    // map-side over the corpus. Rows-only: an L-BFGS optimum is not
    // SQL-replayable; QualityClassifierSpec pins separation,
    // determinism, and the shuffle-free scoring plan
    // graded via staging (q47 pattern): the per-doc probabilities are
    // persisted (L-BFGS itself is not SQL-replayable); the oracle
    // re-derives keep = prob >= 0.5 and re-joins documents so id
    // coverage, the threshold rule and ordering are cross-checked
    "q113_quality_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val labeled = docs.withColumn("label",
        (col("lang") === "en").cast("double"))
      val model = graft.ml.QualityClassifier.train(labeled)
      val scored = graft.ml.QualityClassifier.score(docs, model)
        .select(col("doc_id"), col("quality_prob"), col("keep"))
      scored.select(col("doc_id"), col("quality_prob"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${MLQueries.stageDir(d)}/q113")
      scored.orderBy(col("doc_id"))
    }),

    // BPE tokenizer TRAINING (arXiv:1508.07909): one distributed
    // word-frequency pass + bounded driver-side merge loop. Graded via
    // the q47/q48 staging pattern: the merge table is PERSISTED; the
    // oracle recomputes the rank-0 merge independently (most frequent
    // adjacent symbol pair over the capped word types — the one merge
    // step that IS relational algebra) and the merged=left||right
    // column for every row, passing the later iterative ranks through.
    // BpeSpec pins the full merge sequence on a hand-derived corpus.
    "q111_bpe_train" -> ((s, d) => {
      val m = graft.operators.Bpe.train(Tables.documents(s, d),
        nMerges = 30, maxWordTypes = 10000)
      m.coalesce(1).write.mode("overwrite")
        .parquet(s"${MLQueries.stageDir(d)}/q111")
      s.read.parquet(s"${MLQueries.stageDir(d)}/q111")
        .orderBy(col("rank"))
    }),

    // encoding the corpus with the trained merges: broadcast ranks,
    // map-side pass, no shuffle (plan-pinned in BpeSpec). Graded via
    // staging: the bounded per-word-TYPE length table is persisted and
    // the oracle recomputes every doc's token count relationally
    // (doc → words → join → sum) — the corpus-application layer is
    // fully cross-engine checked, only per-type lengths pass through
    "q112_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.Bpe.train(docs, nMerges = 30,
        maxWordTypes = 10000)
      graft.operators.Bpe.wordTokenCounts(docs, merges)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${MLQueries.stageDir(d)}/q112")
      graft.operators.Bpe.encode(docs, merges)
        .select(col("doc_id"), col("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // tokenizer-fit report with the trained merges: fertility + split
    // rate per doc. Graded via staging like q112: the oracle
    // recomputes n_words from the raw text, n_bpe_tokens/n_merged from
    // the staged per-type table, and both ratios in exact integer
    // arithmetic — everything but the per-type lengths is independent
    "q130_bpe_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.Bpe.train(docs, nMerges = 30,
        maxWordTypes = 10000)
      graft.operators.Bpe.wordTokenCounts(docs, merges)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${MLQueries.stageDir(d)}/q130")
      graft.operators.Bpe.fertilityStats(docs, merges)
        .orderBy(col("doc_id"))
    }),

    // semantic decontamination: corpus embeddings flagged when within
    // cosine 0.5 of ANY benchmark embedding (here: vec_id < 16 plays
    // the eval suite) — the embedding rung of the decontamination
    // ladder; one map-side argmax pass, benchmark as broadcast literal
    "q110_semantic_decontaminate" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      graft.operators.Decontaminate.semanticContamination(
          e.filter(col("vec_id") >= 16), e.filter(col("vec_id") < 16),
          tau = 0.5)
        .orderBy(col("vec_id"))
    }),

    // corpus vocabulary: top-20 tokens by frequency (count desc, token
    // asc tiebreak) — tokenizer-training input; explode → two-phase
    // count → TakeOrdered, no full sort of the vocabulary
    "q77_vocab_topk" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),

    // per-lang type/token profile: tokens, vocabulary size, hapax count
    // (types seen once), top-token share — the Zipf-shape corpus stats
    // quality reports are built from; two aggregations, both partial
    "q78_vocab_stats" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextFns.tokens(col("text")))
          .as("token"))
      val perType = tok.groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n"))
      perType.groupBy(col("lang"))
        .agg(sum(col("n")).cast("long").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).cast("long")
            .as("n_hapax"),
          graft.functions.ExactRound.ratio(max(col("n")), sum(col("n")), 6)
            .as("top_share"))
        .orderBy(col("lang"))
    }),

    // per-doc top-5 tokens by tf·idf — relevance scoring / keyword
    // extraction; partial aggs + broadcast corpus count, window top-k
    "q79_tfidf" -> ((s, d) =>
      Relevance.tfIdfTopK(Tables.documents(s, d), k = 5)
        .orderBy(col("doc_id"), col("rank"))),

    // int8 embedding quantization, exploded to flat (id, pos, code)
    // rows for the cross-engine hash
    "q90_quantize_int8" -> ((s, d) =>
      graft.operators.Similarity.quantizeInt8(Tables.embeddings(s, d))
        .select(col("vec_id"), col("scale"),
          posexplode(col("qvec")).as(Seq("pos", "qval")))
        .select(col("vec_id"), col("scale"),
          col("pos").cast("long").as("pos"), col("qval"))
        .orderBy(col("vec_id"), col("pos"))),

    // unigram-LM perplexity quality score: corpus-as-model, exact
    // decimal log-sums (order-independent cross-engine)
    "q87_perplexity" -> ((s, d) =>
      Relevance.unigramPerplexity(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // bigram-LM perplexity: conditional p(w2|w1), same decimal rigor
    "q88_bigram_perplexity" -> ((s, d) =>
      Relevance.bigramPerplexity(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // trigram-LM perplexity: p(w3|w1w2)
    "q93_trigram_perplexity" -> ((s, d) =>
      Relevance.trigramPerplexity(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // CCNet-style perplexity bucketing: per-lang head/middle/tail at
    // exact quartiles of the LM perplexity — the curation slice gate
    "q135_perplexity_buckets" -> ((s, d) =>
      Relevance.perplexityBuckets(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // C4-style span dedup signal: 20-token non-overlapping chunks,
    // duplicated fraction per doc (chunk seen earlier in corpus order)
    "q80_chunk_dedup" -> ((s, d) =>
      Dedup.chunkDupStats(Tables.documents(s, d), chunkTokens = 20)
        .orderBy(col("doc_id"))),

    // sketch-based corpus profile: HLL distincts + KLL-style quantile
    // summaries, one shuffle, fixed-size state — the 100 TB replacement
    // for exact profiling. Rows-only: a cross-engine hash would pin
    // sketch internals, not semantics; SketchesSpec pins the error
    // contracts, and q67b is the exact-profile oracle twin.
    "q67_sketch_profile" -> ((s, d) =>
      graft.operators.Sketches.corpusProfile(Tables.documents(s, d))
        .orderBy(col("lang"))),

    // Count-Min-Sketch heavy hitters: top tokens by ESTIMATED count —
    // the fixed-state frequency profile (third sketch family after
    // HLL/KLL). Rows-only: estimates depend on Spark's CMS hash seeds;
    // q77 is the exact top-k twin and SketchesSpec pins the CMS
    // overcount contract (exact ≤ estimate ≤ exact + eps·N)
    "q108_heavy_hitters" -> ((s, d) =>
      graft.operators.Sketches.heavyHitters(
        Tables.documents(s, d)
          .select(explode(TextFns.tokens(col("text"))).as("token")),
        "token", k = 20)),

    // the EXACT twin of q108 over the same token stream — groupBy
    // count top-k with the (count desc, token) tiebreak, hash-oracled
    // cross-engine; SketchesSpec pins the CMS estimates against these
    // exact counts (never under, ≤ eps·N over, head order preserved).
    // q108 itself stays rows-only by design (estimates depend on
    // Spark's CMS hash seeds).
    "q108b_heavy_hitters_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)),

    // the EXACT twin of q67 — same output shape, exact distinct counts
    // + interpolated percentiles, hash-oracled: anchors the sketch
    // path's semantics cross-engine (SketchesSpec then pins the approx
    // columns against these exact values within the error contracts)
    "q67b_exact_profile" -> ((s, d) =>
      graft.operators.Sketches.corpusProfileExact(Tables.documents(s, d))
        .orderBy(col("lang"))),

    // IVF ANN: k-means cells + nProbe search (exact when nProbe = cells;
    // approximate scale path otherwise — no SQL oracle, SimilaritySpec
    // pins the exactness property)
    "q57_ivf_knn" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), k = 10,
          nCentroids = 16, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // the IVF code path made oracle-VISIBLE: with nProbe = nCentroids
    // every cell is probed, so the result provably equals brute force
    // regardless of how k-means clustered (the property SimilaritySpec
    // pins) — and q35's SQL oracle applies verbatim. The pruned-probe
    // q57 stays rows-only by design.
    "q57b_ivf_knn_full" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), k = 10,
          nCentroids = 8, nProbe = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    // incremental IVF index maintenance: build on a base corpus,
    // ADD the remaining vectors without re-clustering (fixed
    // centroids, grown cells — IvfIndex.add), then probe ALL cells:
    // provably equals brute force over the UNION corpus regardless
    // of where the adds landed — so q35's oracle applies verbatim
    // and the maintenance path is hash-anchored (the q57b pattern)
    "q345_ivf_incremental" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val (cent, cells) =
        graft.operators.IvfIndex.build(e.filter(col("vec_id") >= 10),
          nCentroids = 8)
      val grown = graft.operators.IvfIndex.add(cent, cells,
        e.filter(col("vec_id") < 10))
      graft.operators.IvfIndex.search(cent, grown,
          e.filter(col("vec_id") < 5), k = 10, nProbe = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    // incremental MinHash-LSH dedup: a new batch (doc_id % 5 = 0)
    // probed against the persisted signature index of the rest of the
    // corpus — the near-dup sibling of q345's IVF maintenance. Small
    // k (4, 2 bands) keeps the oracle's signature replay compact; the
    // verdict is integer signature agreement (3 of 4), never a float
    "q346_incremental_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpusSigs = Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 5 =!= 0), k = 4, n = 2)
      Dedup.incrementalLshDedup(corpusSigs,
          docs.filter(col("doc_id") % 5 === 0),
          k = 4, bands = 2, n = 2, minMatches = 3)
        .orderBy(col("doc_id"))
    }),

    // leakage-free group-aware split: the q58 components + the q65
    // md5 residue applied to the CANONICAL id, so a dup pair can
    // never straddle train/test — the constructive fix for the
    // leakage q215 measures
    "q353_group_split" -> ((s, d) =>
      Dedup.groupAwareSplit(Tables.documents(s, d), k = 8, bands = 4,
          n = 2)
        .orderBy(col("doc_id"))),

    // snapshot diff: two synthesized corpus versions (drop-outs, new
    // arrivals, a lang re-tag on every 4th shared doc) reconciled to
    // one added/removed/changed/unchanged verdict per doc_id. The
    // operator diffs md5 row fingerprints; the oracle re-derives the
    // same verdicts from raw-column IS DISTINCT FROM — the two agree
    // exactly unless a payload embeds the fingerprint's control bytes
    "q347_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vOld = docs.filter(col("doc_id") % 7 =!= 0)
      val vNew = docs.filter(col("doc_id") % 3 =!= 0)
        .withColumn("lang", when(col("doc_id") % 4 === 0,
          TextFns.upper(col("lang"))).otherwise(col("lang")))
      graft.operators.Writes.snapshotDiff(vOld, vNew, Seq("doc_id"),
          Seq("text", "lang", "source", "n_chars"))
        .orderBy(col("doc_id"))
    }),

    // incremental SemDeDup: a batch (vec_id % 4 = 0) assigned to the
    // state corpus's frozen seed centroids and pruned against the
    // state's kept set + within itself — the embedding-space member
    // of the q345/q346 maintenance family. The oracle CONSUMES
    // similarity comparisons (assignment argmax, tau threshold,
    // prototypicality domination), so per the PLANS.md round-10 rule
    // it is STAGED from day one (the q336 discipline): the quantized
    // batch assignment and both same-cluster sim grids (batch×kept,
    // batch×batch) land as 1e-4 integer parquet, and DuckDB replays
    // only integer algebra — sim4 >= 4000 is the tau test, csim4
    // comparisons the domination. The kept-state derivation itself is
    // anchored separately (q107).
    "q348_incremental_semdedup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val state = e.filter(col("vec_id") % 4 =!= 0)
      val batch = e.filter(col("vec_id") % 4 === 0)
      val cs = graft.operators.SemDedup.seedCentroids(state, 8)
      val keptState = graft.operators.SemDedup
        .semanticDedup(state, k = 8, tau = 0.4)
        .filter(col("kept")).select(col("vec_id"), col("cluster"))
        .join(state, Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("cluster"))
      val base = s"${MLQueries.stageDir(d)}/q348"
      val basg = graft.operators.SemDedup.assign(batch, cs)
      basg.select(col("vec_id"), col("cluster"),
          round(col("centroid_sim") * 1e4).cast("long").as("csim4"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/basg")
      val st = keptState.select(col("vec_id").as("sid"),
        Similarity.asDouble(col("embedding")).as("svec"),
        col("cluster"))
      basg.select(col("vec_id").as("bid"), col("vec"), col("cluster"))
        .join(st, Seq("cluster"))
        .select(col("bid"), col("sid"),
          round(Similarity.cosine(col("vec"), col("svec")) * 1e4)
            .cast("long").as("sim4"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/cross")
      val bl = basg.select(col("cluster"), col("vec_id").as("ia"),
        col("vec").as("va"))
      val br = basg.select(col("cluster"), col("vec_id").as("ib"),
        col("vec").as("vb"))
      bl.join(br, Seq("cluster")).where(col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          round(Similarity.cosine(col("va"), col("vb")) * 1e4)
            .cast("long").as("sim4"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/bpairs")
      graft.operators.SemDedup.incrementalSemDedup(cs, keptState,
          batch, tau = 0.4)
        .orderBy(col("vec_id"))
    }),

    // ANN recall@k — the QUALITY of the approximate paths quantified
    // as data (the number a 100 TB pipeline tunes nProbe by): each
    // IVF query's top-10 joined against the brute-force top-10,
    // exact integer hits / k. The ANN leg is STAGED (Lloyd k-means is
    // not oracle-replayable — the q336 pattern); the oracle replays
    // the exact baseline independently (the q35 chain) plus the pure
    // integer recall algebra over the staged pairs.
    "q338_ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      val annPath = s"${MLQueries.stageDir(d)}/q338/ann"
      Similarity.ivfTopK(e, q, k = 10, nCentroids = 16, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
        .coalesce(1).write.mode("overwrite").parquet(annPath)
      // measure from the SAME staged pairs the oracle reads
      val ann = s.read.parquet(annPath)
      val exact = Similarity.bruteForceTopK(e, q, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      graft.operators.ModelEval.annRecallAtK(ann, exact, k = 10)
        .orderBy(col("query_id"))
    }),

    // the COMPOSED incremental-ingest funnel: the whole
    // IncrementalIngestJob ladder (canonicalize → scrub → quality gate
    // → decontaminate → exact dedup vs state + within batch → LSH probe
    // vs state + within-batch groups) as one driver-oracle row. Every
    // stage is independently hash-anchored (q99/q74/q29/q69/q31/q346/
    // q58); this row anchors their COMPOSITION — run()'s stage order,
    // filters, and survivor plumbing — which until now was only
    // ScalaTest-pinned. State and config: [[ingestGate]].
    "q356_ingest_funnel" -> ((s, d) => ingestGate(s, d)._1),

    // empirical JL distortion: per-pair projected/original distance
    // ratio over the bounded audit sample — the dimensionality-
    // reduction twin of q354/q355's quantization distortion (per-pair
    // independent REPORTING, so the distances recompute cross-engine;
    // the raw projections replay through q97's literal sign sums)
    "q357_jl_distortion" -> ((s, d) =>
      Similarity.jlDistortion(Tables.embeddings(s, d), outDim = 16,
          dim = 64, seed = 42L, sampleIds = 48)
        .orderBy(col("id_a"), col("id_b"))),

    // incremental SimHash dedup: a new batch (doc_id % 5 = 0) probed
    // against the persisted simhash prints of the rest of the corpus —
    // the fourth near-dup flavor of the q345/q346/q348 maintenance
    // family (exact / MinHash / semantic / SimHash), verdicts in pure
    // integer bit algebra (banded pigeonhole + bit_count(xor))
    "q358_incremental_simhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpusHashes = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          TextFns.simhash64(col("text")).as("simhash"))
      Dedup.incrementalSimhashDedup(corpusHashes,
          docs.filter(col("doc_id") % 5 === 0), maxHamming = 3)
        .orderBy(col("doc_id"))
    }),

    // the q356 funnel with the OPTIONAL SimHash stage live: state
    // additionally carries the prepped corpus's simhash prints, so
    // run() executes all four near-dup flavors' incremental forms in
    // one ladder (exact + MinHash probe/groups + SimHash probe/groups;
    // no embeddings here — q348 anchors the semantic stage). Oracle =
    // the q356 composition + the q358 print replay + hamming-edge
    // reachability over the surviving batch.
    "q361_funnel_simhash" -> ((s, d) =>
      ingestGate(s, d, simhash = true)._1),

    // ALL FIVE near-dup flavors in one ladder: the q361 funnel with
    // the SEMANTIC stage live too — state carries centroids +
    // keptEmbeddings (the q348 recipe over the corpus-side vectors)
    // and simhash prints; batchEmbeddings ride along. The semantic
    // verdicts CONSUME cosines (assignment argmax, tau test, batch
    // domination), so the quantized grids are STAGED over the FULL
    // batch-embedding table (per-row/pairwise independent — the
    // oracle restricts them to the SimHash-stage survivors) and the
    // DuckDB replay is pure integer algebra, the q348 discipline.
    "q362_funnel_semantic" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val stateVecs = e.filter(col("vec_id") % 5 =!= 0)
      val cs = graft.operators.SemDedup.seedCentroids(stateVecs, 8)
      val keptState = graft.operators.SemDedup
        .semanticDedup(stateVecs, k = 8, tau = 0.4)
        .filter(col("kept")).select(col("vec_id"), col("cluster"))
        .join(stateVecs, Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("cluster"))
        .localCheckpoint() // feeds the cross grid AND run()'s probe
      val batchEmb = e.filter(col("vec_id") % 5 === 0)
      val base = s"${MLQueries.stageDir(d)}/q362"
      val basg = graft.operators.SemDedup.assign(batchEmb, cs)
        .localCheckpoint() // three grid writes read it
      basg.select(col("vec_id"), col("cluster"),
          round(col("centroid_sim") * 1e4).cast("long").as("csim4"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/basg")
      val st = keptState.select(col("vec_id").as("sid"),
        Similarity.asDouble(col("embedding")).as("svec"),
        col("cluster"))
      basg.select(col("vec_id").as("bid"), col("vec"), col("cluster"))
        .join(st, Seq("cluster"))
        .select(col("bid"), col("sid"),
          round(Similarity.cosine(col("vec"), col("svec")) * 1e4)
            .cast("long").as("sim4"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/cross")
      val bl = basg.select(col("cluster"), col("vec_id").as("ia"),
        col("vec").as("va"))
      val br = basg.select(col("cluster"), col("vec_id").as("ib"),
        col("vec").as("vb"))
      bl.join(br, Seq("cluster")).where(col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          round(Similarity.cosine(col("va"), col("vb")) * 1e4)
            .cast("long").as("sim4"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/bpairs")
      ingestGate(s, d, simhash = true,
        semantic = Some((cs, keptState, batchEmb)))._1
    }),

    // the q356 funnel's LEDGER as its own gate row: run() returns the
    // per-stage survivor counts a pipeline operator alarms on — this
    // pins the ledger itself (stage order + the count after every
    // stage), where q356 pins final membership. Same state/config as
    // q356 so the two rows cross-check.
    "q360_funnel_ledger" -> ((s, d) => {
      import s.implicits._
      ingestGate(s, d)._2.zipWithIndex
        .map { case ((stage, n), i) => (i.toLong, stage, n) }
        .toDF("stage_idx", "stage", "n_docs")
        .orderBy(col("stage_idx"))
    }),

    // RM3 second-pass weighted BM25 — the retrieval step q352 stopped
    // short of (its oracle problem was the data-dependent term list):
    // the weighted-term table (term, w4, idf4) is STAGED (weights are
    // data-dependent, idf is the one transcendental — both quantized
    // driver-side, the q129 grid-is-the-definition discipline), and
    // the second pass is a SUM OF EXACT LONGS both engines replay
    // identically (see Relevance.rm3Rescore)
    "q359_rm3" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val termsPath = s"${MLQueries.stageDir(d)}/q359/terms"
      Relevance.rm3WeightedTerms(docs, Seq("spark", "join", "window"),
          fbDocs = 10, fbTerms = 5, alpha = 0.5)
        .coalesce(1).write.mode("overwrite").parquet(termsPath)
      Relevance.rm3Rescore(docs, s.read.parquet(termsPath), topK = 10)
        .orderBy(col("rank"))
    }))

  /** The q356/q360/q361/q362 funnel fixture: the `doc_id % 5 ≠ 0`
    * slice, text prepped like the batch, is the persisted state (the
    * layout a prior rebuild persists; the state derivations themselves
    * are anchored by q32/q33); the `% 5 = 0` slice arrives as the
    * batch; `doc_id < 50` is the eval set. Small k (4, 2 bands, 3-of-4
    * agreement) keeps the oracle's signature replay compact, the q346
    * convention. `simhash` adds the state's SimHash prints; `semantic`
    * adds (centroids, kept embeddings, batch embeddings). Returns the
    * survivors — (doc_id, lang, source, fingerprint of the prepped
    * text, so the transform chain is pinned, not just membership),
    * materialized — and run()'s ledger. run() returns its survivor
    * frame still staged; it is released here (a leak would hold one
    * staged frame per bench/gate execution until the ContextCleaner
    * reclaims it). */
  private def ingestGate(s: SparkSession, d: String,
                         simhash: Boolean = false,
                         semantic: Option[(Array[(Long, Array[Double])],
                           DataFrame, DataFrame)] = None)
      : (DataFrame, Seq[(String, Long)]) = {
    import graft.jobs.{IncrementalIngestJob, Ladder}
    val docs = Tables.documents(s, d)
    val cfg = IncrementalIngestJob.Config(
      minQuality = 0.25, minhashK = 4, bands = 2, shingleN = 2,
      minMatches = 3, contaminationN = 5, contaminationThreshold = 0.5,
      simhashMaxHamming = 3, semDedupTau = 0.4)
    val state = IncrementalIngestJob.deriveState(
      Ladder.prepText(docs.filter(col("doc_id") % 5 =!= 0)), cfg, simhash)
    val (survivors, _, ledger) = IncrementalIngestJob.run(
      semantic.fold(state) { case (cs, kept, _) =>
        state.copy(centroids = Some(cs), keptEmbeddings = Some(kept)) },
      docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") < 50), cfg, semantic.map(_._3))
    val out = survivors.select(col("doc_id"), col("lang"),
        col("source"), TextFns.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    graft.Staging.release(survivors)
    (out, ledger)
  }

  /** BM25 top-20 CTE chain (TOKS must precede; ends with `r` carrying
    * (doc_id, dl, score, rank)) — shared verbatim by the q163 oracle
    * and q335's lexical fusion leg. */
  private val bm25Chain: String =
    """, tok2 AS (
            SELECT doc_id, unnest(w) AS token FROM t),
          tok3 AS (SELECT * FROM tok2 WHERE token <> ''),
          per AS (
            SELECT doc_id, count(*) AS dl,
              sum(CASE WHEN token = 'spark' THEN 1 ELSE 0 END) AS tf0,
              sum(CASE WHEN token = 'join' THEN 1 ELSE 0 END) AS tf1,
              sum(CASE WHEN token = 'window' THEN 1 ELSE 0 END) AS tf2
            FROM tok3 GROUP BY 1),
          st AS (
            SELECT sum(dl) AS total_tokens,
              sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
              sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
              sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
              (SELECT count(*) FROM documents) AS n_docs
            FROM per),
          sc AS (
            SELECT doc_id, dl,
              round(
                (CASE WHEN tf0 > 0 THEN
                   ln(1e0 + (n_docs - CAST(df0 AS DOUBLE) + 0.5e0)
                      / (CAST(df0 AS DOUBLE) + 0.5e0))
                   * CAST(tf0 AS DOUBLE) * (1.2e0 + 1)
                   / (CAST(tf0 AS DOUBLE) + 1.2e0 * ((1 - 0.75e0)
                      + 0.75e0 * dl
                        / (CAST(total_tokens AS DOUBLE) / n_docs)))
                 ELSE 0e0 END)
                + (CASE WHEN tf1 > 0 THEN
                   ln(1e0 + (n_docs - CAST(df1 AS DOUBLE) + 0.5e0)
                      / (CAST(df1 AS DOUBLE) + 0.5e0))
                   * CAST(tf1 AS DOUBLE) * (1.2e0 + 1)
                   / (CAST(tf1 AS DOUBLE) + 1.2e0 * ((1 - 0.75e0)
                      + 0.75e0 * dl
                        / (CAST(total_tokens AS DOUBLE) / n_docs)))
                 ELSE 0e0 END)
                + (CASE WHEN tf2 > 0 THEN
                   ln(1e0 + (n_docs - CAST(df2 AS DOUBLE) + 0.5e0)
                      / (CAST(df2 AS DOUBLE) + 0.5e0))
                   * CAST(tf2 AS DOUBLE) * (1.2e0 + 1)
                   / (CAST(tf2 AS DOUBLE) + 1.2e0 * ((1 - 0.75e0)
                      + 0.75e0 * dl
                        / (CAST(total_tokens AS DOUBLE) / n_docs)))
                 ELSE 0e0 END), 4) AS score
            FROM per, st),
          r AS (
            SELECT doc_id, dl, score,
                   row_number() OVER (ORDER BY score DESC, doc_id)
                     AS rank
            FROM sc WHERE score > 0)"""

  /** q336 oracle: the MMR greedy loop UNROLLED as k chained CTE
    * steps over the STAGED integers (rel4 per doc + 4dp pairwise sim
    * grid — exactly what the operator's greedy consumed), each step
    * picking argmax(λ6·rel4 − (10⁶−λ6)·max-sim4-to-selected) with the
    * id tiebreak. Generated programmatically so the SQL and the Scala
    * loop cannot drift on step count or tie rules; every CTE is
    * MATERIALIZED — DuckDB otherwise inlines each reference and the
    * chained steps re-expand exponentially (the first cut exhausted
    * file handles at step ~9). */
  private def mmrOracle(k: Int, lambda6: Long): String = {
    val inv6 = 1000000L - lambda6
    val steps = (1 to k).map { i =>
      if (i == 1)
        s""", pick1 AS MATERIALIZED (
              SELECT id, rel, rel4, $lambda6 * rel4 AS score10,
                     1 AS mmr_rank
              FROM sl ORDER BY $lambda6 * rel4 DESC, id LIMIT 1),
            selected1 AS MATERIALIZED (SELECT id FROM pick1)"""
      else
        s""", cand$i AS MATERIALIZED (
              SELECT sl.id, sl.rel, sl.rel4,
                     $lambda6 * sl.rel4 - $inv6 * coalesce(
                       (SELECT max(ps.s4) FROM ps
                        JOIN selected${i - 1} s ON ps.ib = s.id
                        WHERE ps.ia = sl.id), 0) AS score10
              FROM sl
              WHERE sl.id NOT IN (SELECT id FROM selected${i - 1})),
            pick$i AS MATERIALIZED (
              SELECT id, rel, rel4, score10, $i AS mmr_rank
              FROM cand$i ORDER BY score10 DESC, id LIMIT 1),
            selected$i AS MATERIALIZED (
              SELECT id FROM selected${i - 1}
              UNION ALL SELECT id FROM pick$i)"""
    }.mkString
    val unionAll =
      (1 to k).map(i => s"SELECT * FROM pick$i").mkString(" UNION ALL ")
    s"""WITH sl AS MATERIALIZED (
            SELECT id, rel, rel4
            FROM read_parquet('${MLQueries.StageToken}/q336/rel/*.parquet')),
          ps AS MATERIALIZED (
            SELECT ia, ib, s4
            FROM read_parquet('${MLQueries.StageToken}/q336/sim/*.parquet'))""" +
      steps + s"""
        SELECT id AS doc_id, CAST(mmr_rank AS BIGINT) AS mmr_rank, rel,
               CAST(score10 AS DOUBLE) / 10000000000 AS mmr_score
        FROM ($unionAll) ORDER BY mmr_rank"""
  }

  /** q339 oracle: truncated RBO@k over the replayed lexical leg and
    * the staged semantic leg. The per-depth suffix sums are the SAME
    * JVM-generated micro-ints [[Relevance.rboSuffix]] feeds the plan
    * (generated programmatically so SQL and Scala cannot drift), so
    * the replay is pure integer algebra. */
  private def rboOracle(k: Int, p: Double): String = {
    val s = graft.operators.Relevance.rboSuffix(k, p)
    val lookup = (1 to k).map(m => s"WHEN m = $m THEN ${s(m - 1)}")
      .mkString(" ")
    TOKS + bm25Chain + s""", lex AS (
            SELECT doc_id, rank FROM r WHERE rank <= $k),
          sem AS (
            SELECT doc_id, CAST(rank AS BIGINT) AS rank
            FROM read_parquet(
              '${MLQueries.StageToken}/q339/sem/*.parquet')
            WHERE rank <= $k),
          b AS (
            SELECT CASE WHEN l.rank >= s.rank THEN l.rank ELSE s.rank
                   END AS m
            FROM lex l JOIN sem s USING (doc_id)),
          g AS (
            SELECT CAST(count(*) AS BIGINT) AS n_both,
                   CAST(coalesce(sum(CASE $lookup END), 0) AS BIGINT)
                     AS rbo6
            FROM b)
        SELECT n_both, rbo6, CAST(rbo6 AS DOUBLE) / 1000000 AS rbo
        FROM g"""
  }

  /** q344 oracle: per-query RBO over the two staged legs — the same
    * generated suffix weights as [[rboOracle]], grouped by query. */
  private def rboByQueryOracle(k: Int, p: Double): String = {
    val s = graft.operators.Relevance.rboSuffix(k, p)
    val lookup = (1 to k).map(m => s"WHEN m = $m THEN ${s(m - 1)}")
      .mkString(" ")
    s"""WITH fa AS (
            SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank
            FROM read_parquet(
              '${MLQueries.StageToken}/q344/full/*.parquet')
            WHERE rank <= $k),
          fb AS (
            SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank
            FROM read_parquet(
              '${MLQueries.StageToken}/q344/quant/*.parquet')
            WHERE rank <= $k),
          b AS (
            SELECT fa.query_id,
                   CASE WHEN fa.rank >= fb.rank THEN fa.rank
                        ELSE fb.rank END AS m
            FROM fa JOIN fb
              ON fa.query_id = fb.query_id AND fa.doc_id = fb.doc_id),
          g AS (
            SELECT query_id, CAST(count(*) AS BIGINT) AS n_both,
                   CAST(sum(CASE $lookup END) AS BIGINT) AS rbo6
            FROM b GROUP BY 1)
        SELECT query_id, n_both, rbo6,
               CAST(rbo6 AS DOUBLE) / 1000000 AS rbo
        FROM g ORDER BY query_id"""
  }

  /** Brute-force cosine top-k CTE chain (ends with `r` carrying
    * (query_id, neighbor_id, sim, rank)) — shared by the q35/q57b
    * oracle and q338's exact-baseline leg. */
  private val knnChain: String =
    """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv
                  FROM embeddings),
            s AS (SELECT qid, nid,
                         round(list_cosine_similarity(qv, cv), 4) AS sim
                  FROM q, c WHERE qid <> nid),
            r AS (SELECT qid AS query_id, nid AS neighbor_id, sim,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY sim DESC, nid) AS rank
                  FROM s)"""

  /** Brute-force cosine top-k oracle (q35) — shared verbatim by
    * q57b_ivf_knn_full, whose nProbe=nCentroids degenerate is provably
    * brute force. */
  private val knnOracle: String = knnChain + """
         SELECT query_id, rank, neighbor_id, sim FROM r
         WHERE rank <= 10 ORDER BY query_id, rank"""

  /** SimHash64 replay body — per-token 64-bit hash from the md5 hex
    * halves, +1/-1 votes per bit, positive-vote bits summed as a signed
    * 64-bit pattern (the j=0 term is 1L<<63 == Long.MinValue, printed
    * negative; partial sums cannot overflow). Appends CTEs to TOKS
    * ending with `sm(doc_id, simhash)`; ONE renderer shared by q38 and
    * q358 so the bit algebra cannot fork. */
  private val simhashBody: String = """
     , sh AS (SELECT doc_id, list_distinct(w) AS toks FROM t),
       h AS (SELECT doc_id, CASE WHEN toks IS NULL THEN NULL ELSE
               list_transform(toks, s ->
                 [CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT),
                  CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT)])
             END AS hs FROM sh),
       sm AS (SELECT doc_id, CASE WHEN hs IS NULL THEN NULL ELSE """ +
    (0 until 64).map { j =>
      val bit =
        if (j < 32) s"(x[1] >> ${31 - j}) & 1"
        else s"(x[2] >> ${63 - j}) & 1"
      s"CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN ($bit) = 1" +
        s" THEN 1 ELSE -1 END)) > 0 THEN CAST(${1L << (63 - j)} AS BIGINT)" +
        " ELSE 0 END"
    }.mkString("\n       + ") + """
       END AS simhash FROM h)"""

  private val simhashOracle: String = TOKS + simhashBody + """
     SELECT doc_id, simhash FROM sm ORDER BY doc_id"""

  /** q39 oracle: 8 md5-seeded minhash signatures over unigram shingles,
    * 4 bands of 2 rows; docs sharing a band's signature pair are
    * candidates (NULL signatures drop out of the equijoin — singleton
    * semantics, same as the Spark side's null-bucket filter). */
  private val minhashLshPairsOracle: String = TOKS + """
     , sh AS (SELECT doc_id, list_distinct(w) AS sh FROM t),
       sig AS (SELECT doc_id, """ +
    (0 until 8).map(i =>
      s"list_aggregate(list_transform(sh, s -> md5('$i|' || s)), 'min')" +
        s" AS s$i").mkString(",\n         ") + """
       FROM sh),
       banded AS (
         """ + (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b} || '|' || s${2 * b + 1}" +
        " AS bucket FROM sig").mkString("\n         UNION ALL ") + """)
     SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            count(*) AS n_shared_bands
     FROM banded a JOIN banded b
       ON a.band = b.band AND a.bucket = b.bucket
      AND a.doc_id < b.doc_id
     GROUP BY 1, 2 ORDER BY 1, 2"""

  /** q198 oracle: the q39 band join and the q34 capped-Jaccard chain
    * over ONE shared shingle CTE, folded to the three counts. */
  private val lshQualityOracle: String = TOKS + """
     , sh AS (SELECT doc_id, list_distinct(w) AS sh FROM t),
       sig AS (SELECT doc_id, """ +
    (0 until 8).map(i =>
      s"list_aggregate(list_transform(sh, s -> md5('$i|' || s)), 'min')" +
        s" AS s$i").mkString(",\n         ") + """
       FROM sh),
       banded AS (
         """ + (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b} || '|' || s${2 * b + 1}" +
        " AS bucket FROM sig").mkString("\n         UNION ALL ") + """),
       lshp AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
       inv0 AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle
                FROM sh),
       inv AS (
         SELECT doc_id, sz, shingle FROM (
           SELECT doc_id, sz, shingle,
                  count(*) OVER (PARTITION BY shingle) AS df
           FROM inv0)
         WHERE df <= 400),
       p AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.sz AS sa, b.sz AS sb, count(*) AS inter
         FROM inv a JOIN inv b
           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4),
       ex AS (
         SELECT id_a, id_b FROM p
         WHERE CAST((2000000 * inter + (sa + sb - inter))
                    // (2 * (sa + sb - inter)) AS DOUBLE) / 1000000
               >= 0.6),
       c AS (
         SELECT CAST((SELECT count(*) FROM lshp) AS BIGINT) AS n_lsh,
                CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
                CAST((SELECT count(*) FROM lshp
                      JOIN ex USING (id_a, id_b)) AS BIGINT) AS n_hits)
     SELECT n_lsh, n_exact, n_hits,
            CAST((n_hits * 20000 + greatest(n_lsh, 1))
                 // (2 * greatest(n_lsh, 1)) AS DOUBLE) / 10000
              AS lsh_precision,
            CAST((n_hits * 20000 + greatest(n_exact, 1))
                 // (2 * greatest(n_exact, 1)) AS DOUBLE) / 10000
              AS lsh_recall
     FROM c"""

  /** q40 oracle: the seeded hyperplanes are deterministic, so their
    * double literals are inlined (Double.toString round-trips exactly);
    * bucket = sign-bit sum of plane dot products, pairs verified with
    * double-precision cosine — the same algebra as Similarity
    * .cosineSelfPairs(threshold=0.3, planesPerBand=6, bands=8). */
  private val lshCosineOracle: String = {
    val bandSelects = (0 until 8).map { bnd =>
      val planes = Similarity.hyperplanes(6, 64, seed = 42L + bnd)
      val bucket = planes.zipWithIndex.map { case (p, i) =>
        val arr = p.mkString("[", ", ", "]")
        s"CASE WHEN list_dot_product(e, $arr) >= 0 THEN ${1L << i}" +
          " ELSE 0 END"
      }.mkString("\n           + ")
      s"SELECT vec_id, $bnd AS band,\n           $bucket AS bucket FROM v"
    }
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       banded AS (
         """ + bandSelects.mkString("\n         UNION ALL\n         ") + """),
       cand AS (
         SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.bucket = b.bucket
          AND a.vec_id < b.vec_id)
     SELECT c.id_a, c.id_b,
            round(list_cosine_similarity(va.e, vb.e), 4) AS sim
     FROM cand c JOIN v va ON va.vec_id = c.id_a
                 JOIN v vb ON vb.vec_id = c.id_b
     WHERE round(list_cosine_similarity(va.e, vb.e), 4) >= 0.3
     ORDER BY 1, 2"""
  }

  /** q76b oracle: LSH candidate edges replayed with the seeded
    * hyperplanes as SQL literals (the q40 technique — default band
    * parameters planesPerBand=8, bands=4, seeds 42+band), verified with
    * double-precision cosine at the threshold, then the TRUE connected
    * components of that candidate graph via the same recursive closure
    * as q76. Both engines compute components of the SAME bucketed
    * graph, so the scale-path edge generator itself is hash-checked. */
  private val embedLshGroupsOracle: String = {
    val bandSelects = (0 until 4).map { bnd =>
      val planes = Similarity.hyperplanes(8, 64, seed = 42L + bnd)
      val bucket = planes.zipWithIndex.map { case (p, i) =>
        val arr = p.mkString("[", ", ", "]")
        s"CASE WHEN list_dot_product(e, $arr) >= 0 THEN ${1L << i}" +
          " ELSE 0 END"
      }.mkString("\n           + ")
      s"SELECT vec_id, $bnd AS band,\n           $bucket AS bucket FROM v"
    }
    """WITH RECURSIVE
       v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       banded AS (
         """ + bandSelects.mkString("\n         UNION ALL\n         ") + """),
       cand AS (
         SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.bucket = b.bucket
          AND a.vec_id < b.vec_id),
       p AS (
         SELECT c.id_a, c.id_b
         FROM cand c JOIN v va ON va.vec_id = c.id_a
                     JOIN v vb ON vb.vec_id = c.id_b
         WHERE round(list_cosine_similarity(va.e, vb.e), 4) >= 0.4),
       ed AS (SELECT id_a AS src, id_b AS dst FROM p
              UNION ALL SELECT id_b, id_a FROM p),
       reach(id, r) AS (
         SELECT vec_id, vec_id FROM v
         UNION
         SELECT ed.dst, reach.r FROM reach JOIN ed ON ed.src = reach.id)
     SELECT id AS vec_id, CAST(min(r) AS BIGINT) AS canonical
     FROM reach GROUP BY id ORDER BY vec_id"""
  }

  /** q107/q109 shared prefix: seed-centroid assignment (argmax 4dp
    * cosine over the k=8 smallest-id embeddings, ties to the smaller
    * centroid id) + the SemDeDup domination set (a clustermate at
    * cosine >= 0.4 with strictly lower centroid similarity, id
    * tiebreak, marks you dropped). Mirrors SemDedup.assign /
    * SemDedup.semanticDedup term for term. */
  /** The q58 MinHash-LSH component chain (8 sigs, 4 bands, band-
    * bucket edges, recursive reachability) — shared by q58 and q353
    * so the two oracles cannot drift apart. Ends with `reach(id, r)`;
    * callers add the final select and apply the WITH RECURSIVE
    * rewrite. */
  private val q58Body: String =
    """, sh AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(w)),
                i -> w[i] || ' ' || w[i+1])) AS sh
            FROM t),
          sig AS (
            SELECT doc_id,
              list_aggregate(list_transform(sh, s -> md5('0|' || s)),
                'min') AS s0,
              list_aggregate(list_transform(sh, s -> md5('1|' || s)),
                'min') AS s1,
              list_aggregate(list_transform(sh, s -> md5('2|' || s)),
                'min') AS s2,
              list_aggregate(list_transform(sh, s -> md5('3|' || s)),
                'min') AS s3,
              list_aggregate(list_transform(sh, s -> md5('4|' || s)),
                'min') AS s4,
              list_aggregate(list_transform(sh, s -> md5('5|' || s)),
                'min') AS s5,
              list_aggregate(list_transform(sh, s -> md5('6|' || s)),
                'min') AS s6,
              list_aggregate(list_transform(sh, s -> md5('7|' || s)),
                'min') AS s7
            FROM sh),
          banded AS (
            SELECT doc_id, md5('0|' || s0 || '|' || s1) AS bucket FROM sig
            UNION ALL
            SELECT doc_id, md5('1|' || s2 || '|' || s3) FROM sig
            UNION ALL
            SELECT doc_id, md5('2|' || s4 || '|' || s5) FROM sig
            UNION ALL
            SELECT doc_id, md5('3|' || s6 || '|' || s7) FROM sig),
          e AS (
            SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
            FROM banded a JOIN banded b
              ON a.bucket = b.bucket AND a.doc_id <> b.doc_id),
          reach(id, r) AS (
            SELECT doc_id, doc_id FROM sig
            UNION
            SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)"""

  /** Brute-force L2 top-10 over the capped (vec_id < 200) corpus for
    * the vec_id < 5 queries — the exact-regime anchor shared by q146b
    * (probe-all + full-coverage refine) and q349 (the same degenerate
    * over the incrementally-grown index). */
  private val ivfPqExactOracle: String =
    """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 5),
          c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv
                FROM embeddings WHERE vec_id < 200),
          s AS (SELECT qid, nid,
                       round(list_distance(qv, cv), 4) AS dist
                FROM q, c WHERE qid <> nid),
          r AS (SELECT qid AS query_id, nid AS neighbor_id, dist,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY dist, nid) AS rank
                FROM s)
       SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
              dist
       FROM r WHERE rank <= 10 ORDER BY query_id, rank"""

  private val semDedupCtes: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
                  FROM embeddings),
          c AS (SELECT vec_id AS cl, e AS ce FROM v WHERE vec_id < 8),
          s AS (SELECT v.vec_id, v.e, c.cl,
                  round(list_cosine_similarity(v.e, c.ce), 4) AS csim,
                  row_number() OVER (PARTITION BY v.vec_id
                    ORDER BY round(list_cosine_similarity(v.e, c.ce), 4)
                      DESC, c.cl) AS rk
                FROM v, c),
          asg AS (SELECT vec_id, e, cl, csim FROM s WHERE rk = 1),
          dropped AS (SELECT DISTINCT x.vec_id
            FROM asg x JOIN asg y
              ON x.cl = y.cl AND x.vec_id <> y.vec_id
             AND (y.csim < x.csim
                  OR (y.csim = x.csim AND y.vec_id < x.vec_id))
            WHERE round(list_cosine_similarity(x.e, y.e), 4) >= 0.4)"""

  /** Sign-sum SQL for one JL component: an EXPLICIT left-associated sum
    * (e[1] + e[2] - e[3] ...) so the IEEE addition sequence matches the
    * native kernel's ascending-index loop term for term — bit-equal.
    * ONE renderer for both q97 and q98: the associativity this
    * bit-equality contract depends on must not fork. q97 wraps the raw
    * sum with the /√k scale + 4dp round of its scalar columns; q98 uses
    * the raw sums directly (its shortlist cosine is scale-invariant,
    * mirroring [[Similarity.projectedTopK]]). */
  private def jlRawSumSql(row: Seq[Int]): String = {
    val terms = row.zipWithIndex.map { case (s, i) =>
      if (s > 0) s"e[${i + 1}]" else s"- e[${i + 1}]"
    }.mkString(" + ").replace("+ -", "-")
    s"($terms)"
  }

  /** q97 oracle: the seeded ±1 sign matrix is inlined per component. */
  private val randomProjectionOracle: String = {
    val signs = Similarity.jlSigns(16, 64, seed = 42L)
    val comps = signs.zipWithIndex.map { case (row, j) =>
      f"round(${jlRawSumSql(row)} / sqrt(16.0), 4) AS rp_$j%02d"
    }.mkString(",\n            ")
    s"""WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings)
        SELECT vec_id,
            $comps
        FROM v ORDER BY vec_id"""
  }

  /** q357 oracle: raw projections via the same literal sign sums as
    * q97/q98, then per-pair L2 distances as EXPLICIT left-associated
    * squared-difference chains (the Spark side folds index-ascending —
    * term-for-term bit-equal), sqrt/divide correctly rounded, 4dp. */
  private val jlDistortionOracle: String = {
    val signs = Similarity.jlSigns(16, 64, seed = 42L)
    val comps = signs.map(jlRawSumSql)
      .mkString("[\n             ", ",\n             ", "]")
    val so = (1 to 64).map(i =>
      s"(a.e[$i] - b.e[$i]) * (a.e[$i] - b.e[$i])").mkString(" + ")
    val sp = (1 to 16).map(j =>
      s"(a.pe[$j] - b.pe[$j]) * (a.pe[$j] - b.pe[$j])").mkString(" + ")
    s"""WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings WHERE vec_id < 48),
         p AS (SELECT vec_id, e, $comps AS pe FROM v)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(sqrt($so), 4) AS dist_orig,
          round(sqrt($sp) / sqrt(16.0), 4) AS dist_proj,
          CASE WHEN sqrt($so) > 0
               THEN round(sqrt($sp) / sqrt(16.0) / sqrt($so), 4)
               ELSE NULL END AS distortion
        FROM p a JOIN p b ON a.vec_id < b.vec_id
        ORDER BY id_a, id_b"""
  }

  /** q98 oracle: projected components via the same literal sign sums,
    * then shortlist-by-projected-sim and exact re-rank — every stage
    * total-ordered (rounded sim desc, id) like the Spark pipeline. */
  private val projectedKnnOracle: String = {
    val signs = Similarity.jlSigns(32, 64, seed = 42L)
    val comps = signs.map(jlRawSumSql)
      .mkString("[\n             ", ",\n             ", "]")
    s"""WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
         p AS (SELECT vec_id, $comps AS pe FROM v),
         q AS (SELECT vec_id AS qid, pe AS qp FROM p WHERE vec_id < 5),
         s AS (SELECT qid, p.vec_id AS nid,
                      round(list_cosine_similarity(qp, pe), 4) AS psim
               FROM q, p WHERE qid <> p.vec_id),
         sl AS (SELECT qid, nid FROM (
                  SELECT qid, nid, row_number() OVER (PARTITION BY qid
                    ORDER BY psim DESC, nid) AS rn FROM s)
                WHERE rn <= 100),
         r AS (SELECT qid AS query_id, nid AS neighbor_id,
                      round(list_cosine_similarity(vq.e, vn.e), 4) AS sim
               FROM sl JOIN v vq ON vq.vec_id = sl.qid
                       JOIN v vn ON vn.vec_id = sl.nid),
         rr AS (SELECT query_id, neighbor_id, sim,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY sim DESC, neighbor_id) AS rank
                FROM r)
       SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
       FROM rr WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  /** q356 oracle: the WHOLE incremental-ingest funnel composed from the
    * already-green per-stage replays — prep = the q99 class rewrites +
    * the q74 scrub chain (one expression, canonicalizeClasses →
    * emails → urls → phones → whitespace collapse, exactly run()'s
    * map-side order); quality gate = the q29 formula at 0.25;
    * decontamination = the q69 5-gram chain (bench = RAW doc_id < 50);
    * exact dedup = q31/q32's fingerprint with min-id window + LEFT-JOIN
    * anti against the corpus prints (NOT IN would null out on a null
    * print); LSH probe = the q346 4-sig/2-band/3-of-4 replay; within-
    * batch groups = the q58 recursive reachability at k=4. Pure
    * integer/md5 algebra throughout — no float recompute crosses a
    * selection boundary (the quality/contamination ratios replay the
    * SAME IEEE divisions as the Spark side, the q29/q69 precedent). */
  private val ingestFunnelBody: String = {
    import graft.functions.TextClean.{controlRe, unicodeSpaceRe, zeroWidthRe}
    val prepExpr =
      "trim(regexp_replace(regexp_replace(regexp_replace(" +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
        "text, '" + controlRe + "', '', 'g'), '" +
        zeroWidthRe + "', '', 'g'), '" +
        unicodeSpaceRe + "', ' ', 'g'), " +
        """'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
           '(https?://|www\.)[^\s]+', '<URL>', 'g'),
           '(^|[^0-9])((\+?[0-9][0-9 ().-]{5,14}[0-9]))($|[^0-9])',
             '\1<PHONE>\4', 'g'),
           '\s+', ' ', 'g'))"""
    """WITH RECURSIVE prep AS (
          SELECT doc_id, lang, source, """ + prepExpr + """ AS text
          FROM documents),
        t AS (SELECT doc_id, lang, source, text,
                regexp_split_to_array(trim(text), '\s+') AS w
              FROM prep),
        qual AS (
          SELECT doc_id FROM (
            SELECT doc_id, len(w) AS n_tok,
              CAST(len(list_filter(w, x -> x IN ('the','a','an','and',
                'of','to','in','is','it','that'))) AS DOUBLE)
                / nullif(len(w), 0) AS sr,
              length(text) - length(regexp_replace(text,
                '[.,!?;:''"()\[\]-]', '', 'g')) AS np,
              length(text) AS nc
            FROM t WHERE doc_id % 5 = 0) q
          WHERE round((CASE WHEN n_tok BETWEEN 10 AND 100000
                            THEN 0.4 ELSE 0.0 END)
            + (CASE WHEN sr > 0.05 THEN 0.3 ELSE 0.0 END)
            + (CASE WHEN CAST(np AS DOUBLE) / nullif(nc, 0) < 0.1
                    THEN 0.3 ELSE 0.0 END), 4) >= 0.25),
        rt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
                 AS w
               FROM documents WHERE doc_id < 50),
        bench AS (
          SELECT DISTINCT unnest(list_distinct(list_transform(
            range(1, len(w) - 3),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                 w[i+3] || ' ' || w[i+4]))) AS shingle
          FROM rt),
        csh AS (
          SELECT doc_id, list_distinct(list_transform(
            range(1, len(w) - 3),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                 w[i+3] || ' ' || w[i+4])) AS sh
          FROM t WHERE doc_id % 5 = 0),
        cont AS (
          SELECT c.doc_id FROM
            (SELECT doc_id, coalesce(len(sh), 0) AS n_shingles
             FROM csh) c
          LEFT JOIN (SELECT i.doc_id, count(*) AS n_hit
                     FROM (SELECT doc_id, unnest(sh) AS shingle
                           FROM csh) i
                     JOIN bench USING (shingle) GROUP BY 1) h
            ON c.doc_id = h.doc_id
          WHERE coalesce(h.n_hit, 0) / greatest(c.n_shingles, 1)
            >= 0.5),
        d1 AS (SELECT doc_id FROM qual
               WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        fpb AS (SELECT t.doc_id,
                  md5(array_to_string(list_sort(list_distinct(w)), ' '))
                    AS fingerprint
                FROM t JOIN d1 ON t.doc_id = d1.doc_id),
        corpfp AS (
          SELECT DISTINCT
            md5(array_to_string(list_sort(list_distinct(w)), ' '))
              AS fingerprint
          FROM t WHERE doc_id % 5 <> 0),
        d2 AS (SELECT x.doc_id FROM
                 (SELECT doc_id, fingerprint,
                    row_number() OVER (PARTITION BY fingerprint
                      ORDER BY doc_id) AS rn
                  FROM fpb) x
               LEFT JOIN corpfp cf ON x.fingerprint = cf.fingerprint
               WHERE x.rn = 1 AND cf.fingerprint IS NULL),
        sh2 AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i+1])) AS sh
                FROM t),
        sg AS (SELECT doc_id,
                 list_aggregate(list_transform(sh, s -> md5('0|' || s)),
                   'min') AS sig_0,
                 list_aggregate(list_transform(sh, s -> md5('1|' || s)),
                   'min') AS sig_1,
                 list_aggregate(list_transform(sh, s -> md5('2|' || s)),
                   'min') AS sig_2,
                 list_aggregate(list_transform(sh, s -> md5('3|' || s)),
                   'min') AS sig_3
               FROM sh2),
        cb AS (
          SELECT doc_id AS cid, sig_0 AS c0, sig_1 AS c1, sig_2 AS c2,
                 sig_3 AS c3, md5('0|' || sig_0 || '|' || sig_1)
                   AS bucket
          FROM sg WHERE doc_id % 5 <> 0 AND sig_0 IS NOT NULL
          UNION ALL
          SELECT doc_id, sig_0, sig_1, sig_2, sig_3,
                 md5('1|' || sig_2 || '|' || sig_3)
          FROM sg WHERE doc_id % 5 <> 0 AND sig_0 IS NOT NULL),
        bb AS (
          SELECT sg.doc_id AS bid, sig_0 AS b0, sig_1 AS b1,
                 sig_2 AS b2, sig_3 AS b3,
                 md5('0|' || sig_0 || '|' || sig_1) AS bucket
          FROM sg JOIN d2 ON sg.doc_id = d2.doc_id
          WHERE sig_0 IS NOT NULL
          UNION ALL
          SELECT sg.doc_id, sig_0, sig_1, sig_2, sig_3,
                 md5('1|' || sig_2 || '|' || sig_3)
          FROM sg JOIN d2 ON sg.doc_id = d2.doc_id
          WHERE sig_0 IS NOT NULL),
        pr AS (SELECT bid, cid,
                 max(CAST(c0 = b0 AS INT) + CAST(c1 = b1 AS INT) +
                     CAST(c2 = b2 AS INT) + CAST(c3 = b3 AS INT)) AS m
               FROM cb JOIN bb USING (bucket) GROUP BY bid, cid),
        d3 AS (SELECT doc_id FROM d2
               WHERE doc_id NOT IN
                 (SELECT DISTINCT bid FROM pr WHERE m >= 3)),
        banded AS (
          SELECT sg.doc_id, md5('0|' || sig_0 || '|' || sig_1)
            AS bucket
          FROM sg JOIN d3 ON sg.doc_id = d3.doc_id
          WHERE sig_0 IS NOT NULL
          UNION ALL
          SELECT sg.doc_id, md5('1|' || sig_2 || '|' || sig_3)
          FROM sg JOIN d3 ON sg.doc_id = d3.doc_id
          WHERE sig_0 IS NOT NULL),
        e AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
              FROM banded a JOIN banded b
                ON a.bucket = b.bucket AND a.doc_id <> b.doc_id),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM d3
          UNION
          SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
        fin AS (SELECT id AS doc_id FROM reach GROUP BY id
                HAVING id = min(r))"""
  }

  private val ingestFunnelOracle: String = ingestFunnelBody + """
        SELECT t.doc_id, t.lang, t.source,
          md5(array_to_string(list_sort(list_distinct(t.w)), ' '))
            AS fingerprint
        FROM t JOIN fin ON t.doc_id = fin.doc_id
        ORDER BY t.doc_id"""

  /** q360 oracle: the same funnel chain folded to per-stage counts —
    * the map-side prep stages (canonicalize/scrub) drop nothing by
    * construction, so their rows equal the input count; the gate
    * stages count their CTEs. Stage names/order mirror
    * IncrementalIngestJob.run's ledger literally. */
  private val ingestFunnelLedgerOracle: String = ingestFunnelBody + """
        SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
               CAST(n_docs AS BIGINT) AS n_docs
        FROM (
          SELECT 0 AS stage_idx, 'input' AS stage,
            (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)
              AS n_docs
          UNION ALL SELECT 1, 'canonicalized',
            (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)
          UNION ALL SELECT 2, 'scrubbed',
            (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)
          UNION ALL SELECT 3, 'quality_gate',
            (SELECT count(*) FROM qual)
          UNION ALL SELECT 4, 'decontaminated',
            (SELECT count(*) FROM d1)
          UNION ALL SELECT 5, 'exact_deduped',
            (SELECT count(*) FROM d2)
          UNION ALL SELECT 6, 'near_deduped',
            (SELECT count(*) FROM fin))
        ORDER BY stage_idx"""

  /** Final membership projection shared by the q356/q361/q362 funnel
    * oracles: survivors named by `fin`, carrying the prepped text's
    * fingerprint so the transform chain is pinned too. */
  private def funnelMembership(fin: String): String = s"""
        SELECT t.doc_id, t.lang, t.source,
          md5(array_to_string(list_sort(list_distinct(t.w)), ' '))
            AS fingerprint
        FROM t JOIN $fin ON t.doc_id = $fin.doc_id
        ORDER BY t.doc_id"""

  /** q361/q362 shared chain: the q356 composition continued through
    * the SimHash stage — prints of the PREPPED text via the shared
    * q38 replay (simhashBody reads the funnel chain's `t`), the q358
    * pigeonhole probe dropping `fin` docs within Hamming ≤ 3 of a
    * corpus print, then verified-hamming-edge reachability over the
    * remainder (the hammingDedupGroups component semantics). Ends at
    * `fin2` = the SimHash-stage survivors. */
  private val ingestFunnelSimhashChain: String = """
        , cb2 AS (SELECT sm.simhash AS ch, band,
                   (sm.simhash >> (band * 16)) & 65535 AS bucket
                 FROM sm, (SELECT unnest([0, 1, 2, 3]) AS band) bx
                 WHERE sm.doc_id % 5 <> 0 AND sm.simhash IS NOT NULL),
          bb2 AS (SELECT f.doc_id AS bid, sm.simhash AS bh, band,
                   (sm.simhash >> (band * 16)) & 65535 AS bucket
                 FROM sm JOIN fin f ON sm.doc_id = f.doc_id,
                      (SELECT unnest([0, 1, 2, 3]) AS band) bx
                 WHERE sm.simhash IS NOT NULL),
          dsim AS (SELECT DISTINCT bid
                   FROM cb2 JOIN bb2 USING (band, bucket)
                   WHERE bit_count(xor(ch, bh)) <= 3),
          d4 AS (SELECT doc_id FROM fin
                 WHERE doc_id NOT IN (SELECT bid FROM dsim)),
          hb AS (SELECT d4.doc_id, sm.simhash, band,
                   (sm.simhash >> (band * 16)) & 65535 AS bucket
                 FROM sm JOIN d4 ON sm.doc_id = d4.doc_id,
                      (SELECT unnest([0, 1, 2, 3]) AS band) bx
                 WHERE sm.simhash IS NOT NULL),
          e2 AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
                 FROM hb a JOIN hb b
                   ON a.band = b.band AND a.bucket = b.bucket
                  AND a.doc_id <> b.doc_id
                 WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
          reach2(id, r) AS (
            SELECT doc_id, doc_id FROM d4
            UNION
            SELECT e2.dst, reach2.r
            FROM reach2 JOIN e2 ON e2.src = reach2.id),
          fin2 AS (SELECT id AS doc_id FROM reach2 GROUP BY id
                   HAVING id = min(r))"""

  private val ingestFunnelSimhashOracle: String =
    ingestFunnelBody + simhashBody + ingestFunnelSimhashChain +
      funnelMembership("fin2")

  /** q362 oracle: ALL FIVE near-dup flavors live — the q361 chain
    * through `fin2`, then the semantic stage replayed in pure integer
    * algebra over the STAGED quantized grids (the q348 discipline,
    * mandated by the PLANS.md staging rule: assignment + tau test +
    * within-batch domination all CONSUME cosines). `basg` is the
    * frozen-centroid assignment of the FULL batch-embedding table;
    * restricting it to fin2 replays run()'s be ∩ simhash-survivors
    * filter (assignment is per-row independent). A fin2 doc WITHOUT a
    * batch vector has no verdict row and drops — run()'s left_semi
    * semantics, replayed by the inner join to `bf`. Within-batch
    * domination is pairwise (no transitive re-evaluation), so the
    * full-batch pair grid restricted to fin2 endpoints is exact. */
  private val ingestFunnelSemanticOracle: String =
    ingestFunnelBody + simhashBody + ingestFunnelSimhashChain + s"""
        , b AS (SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
                  CAST(csim4 AS BIGINT) AS csim4
                FROM read_parquet(
                  '${MLQueries.StageToken}/q362/basg/*.parquet')),
          bf AS (SELECT b.* FROM b
                 JOIN fin2 f ON b.vec_id = f.doc_id),
          cg AS (SELECT bid, CAST(sim4 AS BIGINT) AS sim4
                 FROM read_parquet(
                   '${MLQueries.StageToken}/q362/cross/*.parquet')),
          ds2 AS (SELECT DISTINCT bid AS vec_id FROM cg
                  JOIN bf ON cg.bid = bf.vec_id
                  WHERE sim4 >= 4000),
          bg AS (SELECT ia, ib, CAST(sim4 AS BIGINT) AS sim4
                 FROM read_parquet(
                   '${MLQueries.StageToken}/q362/bpairs/*.parquet')),
          db2 AS (
            SELECT DISTINCT p.vec_id FROM (
              SELECT ia AS vec_id, ib AS other, sim4 FROM bg
              UNION ALL
              SELECT ib AS vec_id, ia AS other, sim4 FROM bg) p
            JOIN bf x ON x.vec_id = p.vec_id
            JOIN bf y ON y.vec_id = p.other
            WHERE p.sim4 >= 4000
              AND (y.csim4 < x.csim4
                   OR (y.csim4 = x.csim4 AND y.vec_id < x.vec_id))),
          fin3 AS (SELECT vec_id AS doc_id FROM bf
                   WHERE vec_id NOT IN (SELECT vec_id FROM ds2)
                     AND vec_id NOT IN (SELECT vec_id FROM db2))""" +
      funnelMembership("fin3")

  val oracle: Map[String, String] = Map(
    // q100/q101: the oracle evaluates the doc_id-seeded GENERATIVE
    // formula (never the bytes) — matching the Spark side, which stats
    // the DECODED raster/samples, proves the real codec round trip is
    // value-exact. Integer stats only (BIGINT sums), so the compare is
    // hash-safe. The i -> (x, y) unflattening mirrors the row-major
    // Array.tabulate on the Spark side (x = i mod W, y = i div W)
    "q100_decode_image" ->
      """SELECT doc_id,
           CAST(4 + doc_id % 13 AS BIGINT) AS width,
           CAST(4 + doc_id % 7 AS BIGINT) AS height,
           CAST((4 + doc_id % 13) * (4 + doc_id % 7) AS BIGINT)
             AS n_pixels,
           CAST(list_sum(list_transform(
             range(0, (4 + doc_id % 13) * (4 + doc_id % 7)),
             i -> (doc_id + 7 * (i % (4 + doc_id % 13))
                   + 13 * (i // (4 + doc_id % 13))) % 256)) AS BIGINT)
             AS luma_sum
         FROM documents ORDER BY doc_id""",
    // q102: one oracle row per SAMPLED frame (every 2nd), lateral
    // range over the per-doc frame count; same generative-formula
    // technique as q100/q101
    "q102_frame_sample_gif" ->
      """SELECT doc_id, f AS frame_no,
           CAST(4 + (doc_id + f) % 9 AS BIGINT) AS width,
           CAST(3 + (doc_id + 2 * f) % 6 AS BIGINT) AS height,
           CAST(list_sum(list_transform(
             range(0, (4 + (doc_id + f) % 9) * (3 + (doc_id + 2 * f) % 6)),
             i -> (doc_id + 11 * f + 7 * (i % (4 + (doc_id + f) % 9))
                   + 13 * (i // (4 + (doc_id + f) % 9))) % 256))
             AS BIGINT) AS luma_sum
         FROM documents,
              LATERAL (SELECT unnest(range(0, 2 + doc_id % 5)) AS f) t
         WHERE f % 2 = 0
         ORDER BY doc_id, frame_no""",
    // q103: same generative-formula technique per channel; alpha is the
    // formula channel only for the RGBA third (doc_id%3=2), constant
    // 255 for the opaque truecolor/palette encodings
    "q103_decode_color_png" ->
      """SELECT doc_id,
           CAST(CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 6 END
             AS BIGINT) AS color_type,
           CAST(4 + doc_id % 11 AS BIGINT) AS width,
           CAST(4 + doc_id % 5 AS BIGINT) AS height,
           CAST(list_sum(list_transform(
             range(0, (4 + doc_id % 11) * (4 + doc_id % 5)),
             i -> (doc_id + 3 * i) % 256)) AS BIGINT) AS sum_r,
           CAST(list_sum(list_transform(
             range(0, (4 + doc_id % 11) * (4 + doc_id % 5)),
             i -> (2 * doc_id + 5 * i) % 256)) AS BIGINT) AS sum_g,
           CAST(list_sum(list_transform(
             range(0, (4 + doc_id % 11) * (4 + doc_id % 5)),
             i -> (3 * doc_id + 7 * i) % 256)) AS BIGINT) AS sum_b,
           CAST(CASE WHEN doc_id % 3 = 2
             THEN list_sum(list_transform(
               range(0, (4 + doc_id % 11) * (4 + doc_id % 5)),
               i -> (5 * doc_id + 11 * i) % 256))
             ELSE 255 * (4 + doc_id % 11) * (4 + doc_id % 5) END
             AS BIGINT) AS sum_a
         FROM documents ORDER BY doc_id""",
    "q101_decode_audio" ->
      """SELECT doc_id,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(256 + doc_id % 64 AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(0, 256 + doc_id % 64),
             i -> abs((doc_id * 97 + i * 31) % 4096 - 2048))) AS BIGINT)
             AS sum_abs,
           CAST(list_sum(list_transform(range(0, 256 + doc_id % 64),
             i -> ((doc_id * 97 + i * 31) % 4096 - 2048)
                  * ((doc_id * 97 + i * 31) % 4096 - 2048))) AS BIGINT)
             AS sum_sq
         FROM documents ORDER BY doc_id""",
    "q97_random_projection" -> randomProjectionOracle,
    "q98_projected_knn" -> projectedKnnOracle,
    // q123: generative-formula replay (the q100/q101 pattern) of the
    // frame-level activity features — all-integer, hash-safe
    "q123_audio_features" ->
      """SELECT doc_id,
           CAST(256 + doc_id % 64 AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(1, 256 + doc_id % 64),
             i -> CASE WHEN
                    ((doc_id * 97 + (i - 1) * 31) % 4096 - 2048 < 0)
                    <> ((doc_id * 97 + i * 31) % 4096 - 2048 < 0)
                  THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings,
           CAST(list_max(list_transform(range(0, 256 + doc_id % 64),
             i -> abs((doc_id * 97 + i * 31) % 4096 - 2048)))
             AS BIGINT) AS peak_abs,
           CAST((256 + doc_id % 64 + 255) // 256 AS BIGINT) AS n_frames,
           CAST(list_max(list_transform(
             range(0, (256 + doc_id % 64 + 255) // 256), f ->
               list_sum(list_transform(
                 range(f * 256, least((f + 1) * 256, 256 + doc_id % 64)),
                 i -> ((doc_id * 97 + i * 31) % 4096 - 2048)
                      * ((doc_id * 97 + i * 31) % 4096 - 2048)))))
             AS BIGINT) AS max_frame_energy,
           CAST(list_sum(list_transform(
             range(0, (256 + doc_id % 64 + 255) // 256), f ->
               CASE WHEN list_sum(list_transform(
                 range(f * 256, least((f + 1) * 256, 256 + doc_id % 64)),
                 i -> ((doc_id * 97 + i * 31) % 4096 - 2048)
                      * ((doc_id * 97 + i * 31) % 4096 - 2048)))
                 >= 1400000 * (least((f + 1) * 256, 256 + doc_id % 64)
                               - f * 256)
               THEN 1 ELSE 0 END)) AS BIGINT) AS n_active_frames
         FROM documents ORDER BY doc_id""",
    // q124: E-S ranking replayed — u from the 52-bit md5 prefix, the
    // exact power-of-two division, ln via the established bridge
    "q124_weighted_sample" ->
      """WITH s AS (
           SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                  ln((CAST(concat('0x', substr(
                        md5('42|' || CAST(doc_id AS VARCHAR)), 1, 13))
                      AS BIGINT) + 1) / 4503599627370496.0)
                    / n_chars AS es
           FROM documents WHERE n_chars > 0),
         top AS (SELECT doc_id, n_chars FROM s
                 ORDER BY es DESC, doc_id LIMIT 100)
         SELECT doc_id, n_chars FROM top ORDER BY doc_id""",
    // q125: per-source dedup-rate rollup over the q32 fingerprint,
    // exact integer half-up ratio
    "q125_dup_rate_by_source" ->
      """WITH f AS (
           SELECT source, md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
           FROM documents),
         a AS (SELECT source, count(*) AS n_docs,
                      count(DISTINCT fp) AS n_unique
               FROM f GROUP BY 1)
         SELECT source, n_docs, n_unique,
                CAST((2000000 * (n_docs - n_unique) + n_docs)
                     // (2 * n_docs) AS DOUBLE) / 1000000 AS dup_rate
         FROM a ORDER BY source""",
    // q126: q30's langid heuristic grouped into a confusion matrix
    "q126_langid_confusion" -> (TOKS +
      """, h AS (
            SELECT lang,
              len(list_filter(w, x -> x IN ('the','a','and','of','is',
                'to'))) AS h_en,
              len(list_filter(w, x -> x IN ('el','la','y','de','es',
                'que'))) AS h_es,
              len(list_filter(w, x -> x IN ('der','die','und','das',
                'ist','nicht'))) AS h_de,
              len(list_filter(w, x -> x IN ('le','la','et','les','est',
                'une'))) AS h_fr
            FROM t),
          g AS (
            SELECT lang,
              CASE WHEN greatest(h_en, h_es, h_de, h_fr) <= 0 THEN 'und'
                   WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
                   WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
                   WHEN h_de = greatest(h_en, h_es, h_de, h_fr) THEN 'de'
                   WHEN h_fr = greatest(h_en, h_es, h_de, h_fr) THEN 'fr'
                   ELSE 'und' END AS lang_guess
            FROM h)
          SELECT lang, lang_guess, count(*) AS n
          FROM g GROUP BY 1, 2 ORDER BY 1, 2"""),
    // q118: covariance of the 6dp-quantized elements in EXACT integer
    // arithmetic (micro-int lift, HUGEINT sums, one half-away-rounded
    // final division) — identical formulation to Pca.covarianceMatrix.
    // The earlier round(avg(xy) - avg(x)avg(y), 6) double form hit a
    // 6dp rounding boundary at the r07 driver gate (summation-order
    // ulp); this is order-independent on both engines.
    "q118_covariance" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
                    WHERE len(embedding) = 64),
            p AS (SELECT i, j,
                    CAST(CAST(round(v[i + 1], 6) AS DECIMAL(28,6))
                         * 1000000 AS HUGEINT) AS x6,
                    CAST(CAST(round(v[j + 1], 6) AS DECIMAL(28,6))
                         * 1000000 AS HUGEINT) AS y6
                  FROM e, range(0, 64) r1(i), range(0, 64) r2(j)
                  WHERE j >= i),
            a AS (SELECT i, j, count(*) AS n, sum(x6 * y6) AS sxy,
                         sum(x6) AS sx, sum(y6) AS sy
                  FROM p GROUP BY 1, 2),
            b AS (SELECT i, j, n * sxy - sx * sy AS num,
                         CAST(n AS HUGEINT) * n * 1000000 AS den
                  FROM a)
         SELECT i, j,
                CAST(CASE WHEN num < 0
                       THEN -((2 * (-num) + den) // (2 * den))
                       ELSE (2 * num + den) // (2 * den) END AS DOUBLE)
                  / 1000000 AS cov
         FROM b ORDER BY i, j""",
    // q108b: exact token top-k, deterministic tiebreak
    "q108b_heavy_hitters_exact" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text),
                             '\s+')) AS token
                    FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS n
         FROM w WHERE token <> ''
         GROUP BY 1 ORDER BY n DESC, token LIMIT 20""",
    // q129: feature algebra replayed over the staged quantized
    // spectrum — exact integer centroid/rolloff, micro-nat flatness.
    // ln6 is STAGED (computed once Spark-side), so this replay is
    // pure integer algebra — DuckDB's ln() never runs (its libm and
    // Java's Math.log may disagree by an ulp at a 6dp boundary).
    "q129_spectral" -> s"""
         WITH s AS (SELECT doc_id, n_samples, sample_rate, bin, p6, ln6
                    FROM read_parquet('${MLQueries.StageToken}/q129/*.parquet')),
            a AS (SELECT doc_id, n_samples, sample_rate,
                         sum(CAST(p6 AS HUGEINT)) AS tot,
                         sum(CAST(p6 AS HUGEINT) * bin) AS wsum,
                         count(*) AS nb,
                         sum(CAST(ln6 AS HUGEINT)) AS lnsum
                  FROM s GROUP BY 1, 2, 3
                  HAVING sum(CAST(p6 AS HUGEINT)) > 0),
            r AS (SELECT doc_id, min(bin) AS roll FROM (
                    SELECT doc_id, bin,
                           sum(CAST(p6 AS HUGEINT)) OVER
                             (PARTITION BY doc_id ORDER BY bin) AS cum,
                           sum(CAST(p6 AS HUGEINT)) OVER
                             (PARTITION BY doc_id) AS t
                    FROM s) WHERE cum * 100 >= t * 85 GROUP BY 1)
         SELECT a.doc_id, a.n_samples,
                CAST((2 * (a.wsum * a.sample_rate * 10) + a.tot * 256)
                     // (2 * (a.tot * 256)) AS DOUBLE) / 10
                  AS centroid_hz,
                CAST(r.roll * a.sample_rate AS DOUBLE) / 256
                  AS rolloff_hz,
                round(exp(CAST(a.lnsum AS DOUBLE) / (a.nb * 1000000.0))
                      / (CAST(a.tot AS DOUBLE) / (a.nb * 1000000.0)), 6)
                  AS flatness
         FROM a JOIN r USING (doc_id)
         ORDER BY a.doc_id""",
    // q131: exact all-pairs hamming join over the staged pHashes —
    // the banded path is exact at maxHamming=3 (pigeonhole over 4
    // bands), so the LSH operator must reproduce this precisely
    "q131_image_phash_pairs" -> s"""
         WITH h AS (SELECT doc_id, phash
                    FROM read_parquet('${MLQueries.StageToken}/q131/*.parquet'))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT)
                  AS hamming
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.phash, b.phash)) <= 3
         ORDER BY id_a, id_b""",
    // q134: connected-component minimum over the exact hamming≤3
    // edge set, via recursive-CTE transitive closure — the converged
    // min-label propagation must agree on every node
    "q134_image_dedup_groups" -> s"""
         WITH RECURSIVE
            h AS (SELECT doc_id, phash
                  FROM read_parquet('${MLQueries.StageToken}/q134/*.parquet')),
            e AS (SELECT a.doc_id AS src, b.doc_id AS dst
                  FROM h a JOIN h b ON a.doc_id <> b.doc_id
                  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
            reach(a, b) AS (
              SELECT doc_id, doc_id FROM h
              UNION
              SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)
         SELECT a AS doc_id, min(b) AS canonical
         FROM reach GROUP BY a ORDER BY doc_id""",
    // q113: staged per-doc probabilities; keep re-derived at the 0.5
    // threshold and id coverage re-joined against documents
    "q113_quality_classifier" -> s"""
         SELECT d.doc_id, p.quality_prob,
                p.quality_prob >= 0.5 AS keep
         FROM documents d
         JOIN read_parquet('${MLQueries.StageToken}/q113/*.parquet') p
           USING (doc_id)
         ORDER BY d.doc_id""",
    // q111: staged merge table with the rank-0 merge INDEPENDENTLY
    // recomputed (the first merge is pure relational algebra: most
    // frequent adjacent symbol pair, count >= 2, ties (a,b) lexical,
    // over the top-10000 word types by (count desc, word)) and
    // merged = left||right recomputed for every row; iterative ranks
    // >= 1 pass through (BpeSpec pins the full sequence)
    "q111_bpe_train" -> s"""
         WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS w
                    FROM documents),
            words AS (SELECT unnest(w) AS word FROM t),
            wc0 AS (SELECT word, count(*) AS n FROM words GROUP BY 1),
            wc AS (SELECT word, n FROM wc0 ORDER BY n DESC, word
                   LIMIT 10000),
            pairs AS (SELECT substr(word, i + 1, 1) AS a,
                             substr(word, i + 2, 1) ||
                               CASE WHEN i + 2 = len(word)
                                    THEN '</w>' ELSE '' END AS b,
                             n
                      FROM wc, range(0, 1024) r(i)
                      WHERE word <> '' AND i <= len(word) - 2),
            pc AS (SELECT a, b, sum(n) AS cnt FROM pairs GROUP BY 1, 2
                   HAVING sum(n) >= 2),
            best AS (SELECT a, b FROM pc ORDER BY cnt DESC, a, b
                     LIMIT 1)
         SELECT m."rank" AS "rank",
                CASE WHEN m."rank" = 0 THEN best.a
                     ELSE m."left" END AS "left",
                CASE WHEN m."rank" = 0 THEN best.b
                     ELSE m."right" END AS "right",
                (CASE WHEN m."rank" = 0 THEN best.a ELSE m."left" END) ||
                (CASE WHEN m."rank" = 0 THEN best.b ELSE m."right" END)
                  AS merged
         FROM read_parquet('${MLQueries.StageToken}/q111/*.parquet') m,
              best
         ORDER BY m."rank"""",
    // q112: per-doc BPE token counts recomputed relationally from the
    // staged per-word-type lengths (doc → words → join → sum); the
    // corpus-application layer is fully independent
    "q112_bpe_encode" -> s"""
         WITH t AS (SELECT doc_id,
                      regexp_split_to_array(trim(text), '\\s+') AS w
                    FROM documents),
            dw AS (SELECT doc_id, unnest(w) AS word FROM t),
            wt AS (SELECT word, n_toks
                   FROM read_parquet('${MLQueries.StageToken}/q112/*.parquet')),
            agg AS (SELECT dw.doc_id,
                           CAST(sum(wt.n_toks) AS BIGINT) AS s
                    FROM dw JOIN wt USING (word)
                    WHERE word <> '' GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(agg.s, 0) AS BIGINT)
                  AS n_bpe_tokens
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id""",
    // q130: fertility report recomputed from raw text (n_words) + the
    // staged per-type lengths (token/merged counts) + exact integer
    // ratio rounding — only per-type lengths pass through
    "q130_bpe_fertility" -> s"""
         WITH t AS (SELECT doc_id,
                      regexp_split_to_array(trim(text), '\\s+') AS w
                    FROM documents),
            dw AS (SELECT doc_id, unnest(w) AS word FROM t),
            wt AS (SELECT word, n_toks
                   FROM read_parquet('${MLQueries.StageToken}/q130/*.parquet')),
            agg AS (SELECT dw.doc_id,
                           CAST(count(*) AS BIGINT) AS n_words,
                           CAST(sum(wt.n_toks) AS BIGINT) AS n_toks,
                           CAST(sum(CASE WHEN wt.n_toks = 1 THEN 1
                                    ELSE 0 END) AS BIGINT) AS n_merged
                    FROM dw JOIN wt USING (word)
                    WHERE word <> '' GROUP BY 1),
            f AS (SELECT d.doc_id,
                         CAST(coalesce(agg.n_words, 0) AS BIGINT)
                           AS n_words,
                         CAST(coalesce(agg.n_toks, 0) AS BIGINT)
                           AS n_bpe_tokens,
                         CAST(coalesce(agg.n_merged, 0) AS BIGINT)
                           AS n_merged_words
                  FROM documents d LEFT JOIN agg USING (doc_id))
         SELECT doc_id, n_words, n_bpe_tokens, n_merged_words,
                CASE WHEN n_words > 0 THEN
                  CAST((2000000 * n_bpe_tokens + n_words)
                       // (2 * n_words) AS DOUBLE) / 1000000
                END AS fertility,
                CASE WHEN n_words > 0 THEN
                  CAST((2000000 * (n_words - n_merged_words) + n_words)
                       // (2 * n_words) AS DOUBLE) / 1000000
                END AS split_rate
         FROM f ORDER BY doc_id""",
    // q119: the projection algebra replayed INDEPENDENTLY over the
    // staged micro-int component table — same x6 lift as q118, exact
    // integer dot products, one half-away division; only the fitted
    // (comp, i, w6, mu6) weights pass through from the stage
    "q119_pca_project" -> s"""
         WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings WHERE len(embedding) = 64),
            x AS (SELECT vec_id, i,
                    CAST(CAST(round(v[i + 1], 6) AS DECIMAL(28,6))
                         * 1000000 AS BIGINT) AS x6
                  FROM e, range(0, 64) r(i)),
            c AS (SELECT comp, i, w6, mu6
                  FROM read_parquet('${MLQueries.StageToken}/q119/*.parquet')),
            p AS (SELECT x.vec_id, c.comp,
                         sum((x.x6 - c.mu6) * c.w6) AS p12
                  FROM x JOIN c USING (i) GROUP BY 1, 2)
         SELECT vec_id, comp AS component,
                CAST(CASE WHEN p12 < 0
                       THEN -((2 * (-p12) + 1000000) // 2000000)
                       ELSE (2 * p12 + 1000000) // 2000000 END AS DOUBLE)
                  / 1000000 AS value
         FROM p ORDER BY vec_id, comp""",
    // q117b: exact-regime PQ ≡ brute-force L2 top-k over the capped
    // corpus (k covers every distinct subvector — see the Spark side)
    "q117b_pq_knn_exact" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv
                  FROM embeddings WHERE vec_id < 200),
            s AS (SELECT qid, nid,
                         round(list_distance(qv, cv), 4) AS dist
                  FROM q, c WHERE qid <> nid),
            r AS (SELECT qid AS query_id, nid AS neighbor_id, dist,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY dist, nid) AS rank
                  FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
                dist
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
    // q155: identical integer counts then the same double arithmetic
    // shape on both sides; empty text floors sentences at 1
    "q155_readability" -> (TOKS +
      """ SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                 greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
                   AS BIGINT), 1) AS n_sentences,
                 CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                   AS BIGINT) AS n_syllables,
                 round(206.835
                       - 1.015 * (CAST(len(w) AS DOUBLE)
                         / greatest(CAST(len(regexp_extract_all(text,
                             '[.!?]+')) AS DOUBLE), 1.0))
                       - 84.6 * (CAST(len(regexp_extract_all(
                             lower(text), '[aeiouy]+')) AS DOUBLE)
                         / nullif(CAST(len(w) AS DOUBLE), 0.0)), 4)
                   AS flesch
          FROM t ORDER BY doc_id"""),
    "q251_gunning_fog" -> (TOKS +
      """ SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                 CAST(len(list_filter(w, x ->
                   len(regexp_extract_all(lower(x), '[aeiouy]+'))
                     >= 3)) AS BIGINT) AS n_complex,
                 round(0.4 * (CAST(len(w) AS DOUBLE)
                         / greatest(CAST(len(regexp_extract_all(text,
                             '[.!?]+')) AS DOUBLE), 1.0)
                       + 100.0 * (CAST(len(list_filter(w, x ->
                           len(regexp_extract_all(lower(x),
                             '[aeiouy]+')) >= 3)) AS DOUBLE)
                         / nullif(CAST(len(w) AS DOUBLE), 0.0))), 4)
                   AS fog
          FROM t ORDER BY doc_id"""),
    "q252_vocab_richness" ->
      """WITH tok AS (
           SELECT source,
                  unnest(regexp_split_to_array(trim(lower(text)),
                    '\s+')) AS token
           FROM documents),
         tf AS (
           SELECT source, token, CAST(count(*) AS BIGINT) AS m
           FROM tok WHERE token <> '' GROUP BY 1, 2),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS vocab,
                  CAST(sum(m) AS BIGINT) AS n_tokens,
                  CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hapax,
                  sum(CAST(m AS HUGEINT) * m) AS smv
           FROM tf GROUP BY 1)
         SELECT source, vocab, n_tokens, hapax,
                CAST((hapax * 20000 + vocab) // (2 * vocab) AS DOUBLE)
                  / 10000 AS hapax_rate,
                CAST(CASE WHEN smv - n_tokens < 0
                     THEN -((abs(smv - n_tokens) * 10000 * 20000
                             + CAST(n_tokens AS HUGEINT) * n_tokens)
                            // (2 * CAST(n_tokens AS HUGEINT)
                               * n_tokens))
                     ELSE ((smv - n_tokens) * 10000 * 20000
                           + CAST(n_tokens AS HUGEINT) * n_tokens)
                          // (2 * CAST(n_tokens AS HUGEINT)
                             * n_tokens) END AS DOUBLE) / 10000
                  AS yule_k
         FROM g ORDER BY 1""",
    "q253_sentence_stats" -> (TOKS +
      """ SELECT doc_id,
                 greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
                   AS BIGINT), 1) AS n_sentences,
                 CAST((CAST(len(w) AS BIGINT) * 20000
                       + greatest(CAST(len(regexp_extract_all(text,
                           '[.!?]+')) AS BIGINT), 1))
                      // (2 * greatest(CAST(len(regexp_extract_all(
                           text, '[.!?]+')) AS BIGINT), 1))
                   AS DOUBLE) / 10000 AS words_per_sentence,
                 CAST((CAST(length(regexp_replace(trim(text), '\s+',
                         '', 'g')) AS BIGINT) * 20000
                       + greatest(CAST(len(w) AS BIGINT), 1))
                      // (2 * greatest(CAST(len(w) AS BIGINT), 1))
                   AS DOUBLE) / 10000 AS mean_word_len
          FROM t ORDER BY doc_id"""),
    "q254_multibyte_ratio" ->
      """WITH b AS (
           SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_txt,
                  CAST(strlen(text) AS BIGINT) AS n_bytes
           FROM documents)
         SELECT doc_id, n_chars_txt, n_bytes,
                CAST(((n_bytes - n_chars_txt) * 20000
                      + greatest(n_bytes, 1))
                     // (2 * greatest(n_bytes, 1)) AS DOUBLE) / 10000
                  AS multibyte_share
         FROM b ORDER BY 1""",
    "q255_burstiness" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(trim(lower(text)),
                    '\s+')) AS token
           FROM documents),
         pd AS (
           SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
           FROM tok WHERE token <> '' GROUP BY 1, 2),
         pt AS (
           SELECT token, CAST(count(*) AS BIGINT) AS df,
                  CAST(sum(c) AS BIGINT) AS n,
                  CAST(sum(c * c) AS BIGINT) AS ssq
           FROM pd GROUP BY 1 HAVING count(*) >= 5),
         top AS (
           SELECT * FROM pt ORDER BY df DESC, token ASC LIMIT 50),
         d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
               FROM documents)
         SELECT token, df, n AS n_occurrences,
                CAST(CASE WHEN CAST(n_docs AS HUGEINT) * ssq
                            - CAST(n AS HUGEINT) * n < 0
                     THEN -((abs(CAST(n_docs AS HUGEINT) * ssq
                                 - CAST(n AS HUGEINT) * n) * 20000
                             + CAST(n_docs - 1 AS HUGEINT) * n)
                            // (2 * CAST(n_docs - 1 AS HUGEINT) * n))
                     ELSE ((CAST(n_docs AS HUGEINT) * ssq
                            - CAST(n AS HUGEINT) * n) * 20000
                           + CAST(n_docs - 1 AS HUGEINT) * n)
                          // (2 * CAST(n_docs - 1 AS HUGEINT) * n)
                     END AS DOUBLE) / 10000 AS fano
         FROM top CROSS JOIN d ORDER BY token""",
    // q163: DOUBLE literals (e-notation) + the engine's exact
    // expression shape so every per-token term folds identically
    "q163_bm25" -> (TOKS + bm25Chain +
      """
          SELECT doc_id, CAST(rank AS BIGINT) AS rank, score,
                 CAST(dl AS BIGINT) AS doc_len
          FROM r WHERE rank <= 20 ORDER BY rank"""),
    // q335: the lexical leg replayed exactly (the shared BM25 chain);
    // the semantic leg's (doc_id, rank) read from the STAGE (see the
    // query-side note — recomputing the cosine ranking here risked a
    // last-ulp boundary flip, the q336 failure class; q35/q157 verify
    // the cosine top-k independently); then the fusion is PURE integer
    // algebra: each term round(10^6/(60+rank)) via the half-up
    // integer bridge ((2a+b) // 2b), summed as exact longs
    "q335_rrf_fusion" -> (TOKS + bm25Chain +
      s""", lex AS (
            SELECT doc_id, rank FROM r WHERE rank <= 20),
          sem AS (
            SELECT doc_id, CAST(rank AS BIGINT) AS rank
            FROM read_parquet(
              '${MLQueries.StageToken}/q335/sem/*.parquet')),
          u AS (SELECT doc_id, rank FROM lex
                UNION ALL SELECT doc_id, rank FROM sem),
          g AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_legs,
                   CAST(sum((2000000 + (60 + rank))
                            // (2 * (60 + rank))) AS BIGINT) AS s6,
                   CAST(min(rank) AS BIGINT) AS best_rank
            FROM u GROUP BY 1),
          f AS (
            SELECT doc_id, n_legs, s6, best_rank,
                   row_number() OVER (ORDER BY s6 DESC, doc_id)
                     AS fused_rank
            FROM g)
          SELECT doc_id, CAST(fused_rank AS BIGINT) AS fused_rank,
                 CAST(s6 AS DOUBLE) / 1000000 AS rrf_score,
                 n_legs, best_rank
          FROM f WHERE fused_rank <= 20 ORDER BY fused_rank"""),
    // q336: the MMR greedy unrolled in SQL — see mmrOracle
    "q336_mmr_rerank" -> mmrOracle(k = 10, lambda6 = 500000L),
    // q339: lexical leg replayed (BM25 chain), semantic leg from the
    // stage, RBO as one suffix-weight lookup per common doc — the
    // weights are the SAME JVM-generated micro-ints the plan uses
    "q339_rbo" -> rboOracle(k = 20, p = 0.9),
    // q344: per-query RBO over the staged full/quantized legs
    "q344_rbo_multiquery" -> rboByQueryOracle(k = 10, p = 0.9),
    // q355: the q90 quantization replay + dequant through the stored
    // 6dp scale, per-row 4dp L2 recompute
    "q355_int8_distortion" ->
      """WITH v AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings),
         m AS (
           SELECT vec_id, vec,
                  list_aggregate(list_transform(vec, x -> abs(x)),
                    'max') AS maxabs
           FROM v),
         q AS (
           SELECT vec_id, vec,
                  round(maxabs / 127.0, 6) AS scale,
                  CASE WHEN maxabs = 0
                    THEN list_transform(vec, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(vec,
                      x -> CAST(round(x / (maxabs / 127.0)) AS BIGINT))
                  END AS qvec
           FROM m)
         SELECT vec_id,
                round(list_distance(vec,
                  list_transform(qvec, x -> x * scale)), 4)
                  AS l2_distortion
         FROM q ORDER BY vec_id""",
    // q354: decode the staged codes through the staged books, per-row
    // 4dp L2 recompute (per-row independent reporting — allowed)
    "q354_pq_distortion" ->
      s"""WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS e
            FROM embeddings WHERE vec_id < 200),
          c AS (
            SELECT vec_id, codes FROM read_parquet(
              '${MLQueries.StageToken}/q354/codes/*.parquet')
            WHERE codes IS NOT NULL),
          cb AS (
            SELECT s, j, sub FROM read_parquet(
              '${MLQueries.StageToken}/q354/books/*.parquet')),
          cd AS (
            SELECT vec_id, t.r AS s, codes[t.r + 1] AS j
            FROM c, range(0, 8) t(r)),
          rv AS (
            SELECT vec_id, flatten(list(sub ORDER BY s)) AS rec
            FROM cd JOIN cb USING (s, j) GROUP BY vec_id)
          SELECT v.vec_id,
                 round(list_distance(v.e, rv.rec), 4) AS l2_distortion
          FROM v JOIN rv USING (vec_id)
          ORDER BY v.vec_id""",
    // q352: integer tf/dl micro-unit weights over the staged feedback
    // set; rank = (weight6 desc, term) — no transcendental replayed
    "q352_prf_expansion" -> (TOKS +
      s""", fb AS (
            SELECT doc_id, CAST(doc_len AS BIGINT) AS dl
            FROM read_parquet(
              '${MLQueries.StageToken}/q352/fb/*.parquet')),
          ft AS (
            SELECT t.doc_id, unnest(t.w) AS term
            FROM t JOIN fb ON t.doc_id = fb.doc_id),
          ft2 AS (SELECT doc_id, term FROM ft
                  WHERE term <> ''
                    AND term NOT IN ('spark', 'join', 'window')),
          tf AS (
            SELECT f.doc_id, term,
                   CAST(count(*) AS BIGINT) AS tf, fb.dl
            FROM ft2 f JOIN fb ON f.doc_id = fb.doc_id
            GROUP BY 1, 2, 4),
          w AS (
            SELECT term,
                   CAST(count(*) AS BIGINT) AS n_fb_docs,
                   CAST(sum((tf * 2000000 + dl) // (2 * dl))
                     AS BIGINT) AS weight6
            FROM tf GROUP BY 1),
          rk AS (
            SELECT term, n_fb_docs, weight6,
                   row_number() OVER (ORDER BY weight6 DESC, term)
                     AS rank
            FROM w)
          SELECT term, CAST(rank AS BIGINT) AS rank, n_fb_docs,
                 weight6,
                 CAST(weight6 AS DOUBLE) / 1000000 AS weight
          FROM rk WHERE rank <= 5 ORDER BY rank"""),
    // q351: pure integer aggregation over the staged sim4 pair grid
    "q351_intra_list_sim" ->
      s"""WITH p AS (
            SELECT query_id, CAST(sim4 AS BIGINT) AS sim4
            FROM read_parquet(
              '${MLQueries.StageToken}/q351/pairs/*.parquet')),
          g AS (SELECT query_id,
                       CAST(count(*) AS BIGINT) AS n_pairs,
                       CAST(sum(sim4) AS BIGINT) AS sum_sim4
                FROM p GROUP BY 1)
          SELECT query_id, n_pairs, sum_sim4,
            CAST(CASE WHEN sum_sim4 < 0
                 THEN -(((-sum_sim4) * 20000 + n_pairs * 10000)
                        // (2 * n_pairs * 10000))
                 ELSE (sum_sim4 * 20000 + n_pairs * 10000)
                      // (2 * n_pairs * 10000) END
              AS DOUBLE) / 10000 AS ils
          FROM g ORDER BY query_id""",
    // q350: pure integer pair algebra over the staged runs; τ via the
    // signed half-up bridge (floor-vs-truncate on negatives is the
    // exact disagreement the sign split removes)
    "q350_kendall_tau" ->
      s"""WITH fa AS (
            SELECT query_id, doc_id, CAST(rank AS BIGINT) AS ra
            FROM read_parquet(
              '${MLQueries.StageToken}/q350/full/*.parquet')
            WHERE rank <= 10),
          fb AS (
            SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rb
            FROM read_parquet(
              '${MLQueries.StageToken}/q350/quant/*.parquet')
            WHERE rank <= 10),
          sh AS (SELECT fa.query_id, fa.doc_id, ra, rb
                 FROM fa JOIN fb USING (query_id, doc_id)),
          pr AS (
            SELECT x.query_id,
              CAST(sum(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
              CAST(sum(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_discordant
            FROM sh x JOIN sh y
              ON x.query_id = y.query_id AND x.doc_id < y.doc_id
            GROUP BY 1),
          sc AS (SELECT query_id,
                        CAST(count(*) AS BIGINT) AS n_shared
                 FROM sh GROUP BY 1)
          SELECT sc.query_id, n_shared, n_concordant, n_discordant,
            CAST(CASE WHEN n_concordant < n_discordant
                 THEN -(((n_discordant - n_concordant) * 2 * 20000
                          + n_shared * (n_shared - 1))
                        // (2 * n_shared * (n_shared - 1)))
                 ELSE ((n_concordant - n_discordant) * 2 * 20000
                        + n_shared * (n_shared - 1))
                      // (2 * n_shared * (n_shared - 1)) END
              AS DOUBLE) / 10000 AS tau
          FROM sc JOIN pr USING (query_id)
          WHERE n_shared >= 2
          ORDER BY query_id""",
    // q343: both staged ANN legs unioned, the per-query fusion is
    // pure integer algebra (the q335 term form, partitioned by query)
    "q343_rrf_multiquery" ->
      s"""WITH fa AS (
            SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank
            FROM read_parquet(
              '${MLQueries.StageToken}/q343/full/*.parquet')),
          fb AS (
            SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank
            FROM read_parquet(
              '${MLQueries.StageToken}/q343/quant/*.parquet')),
          u AS (SELECT * FROM fa UNION ALL SELECT * FROM fb),
          g AS (
            SELECT query_id, doc_id,
                   CAST(count(*) AS BIGINT) AS n_legs,
                   CAST(sum((2000000 + (60 + rank))
                            // (2 * (60 + rank))) AS BIGINT) AS s6,
                   CAST(min(rank) AS BIGINT) AS best_rank
            FROM u GROUP BY 1, 2),
          f AS (
            SELECT query_id, doc_id, n_legs, s6, best_rank,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY s6 DESC, doc_id) AS fused_rank
            FROM g)
        SELECT query_id, doc_id, CAST(fused_rank AS BIGINT) AS fused_rank,
               CAST(s6 AS DOUBLE) / 1000000 AS rrf_score,
               n_legs, best_rank
        FROM f WHERE fused_rank <= 10
        ORDER BY query_id, fused_rank""",
    // q164: width-safe decimal entropy product, ExactRound ratios,
    // micro-nat half-up entropy division
    // q182: the lexicalDiversity micro-nat bridge applied to CHARACTER
    // frequencies; keep gate compares the exact 4dp entropy
    "q182_char_entropy" ->
      """WITH ch AS (
           SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents),
         ch2 AS (SELECT doc_id, ch FROM ch WHERE ch <> ''),
         cf AS (SELECT doc_id, ch, count(*) AS c FROM ch2 GROUP BY 1, 2),
         tot AS (
           SELECT doc_id, sum(c) AS n, count(*) AS nd FROM cf GROUP BY 1),
         sm AS (
           SELECT cf.doc_id, max(n) AS n, max(nd) AS nd,
                  CAST(sum(CAST(c AS DECIMAL(12,0))
                    * CAST(round(ln(CAST(c AS DOUBLE) / n), 6)
                      AS DECIMAL(10,6))) AS DECIMAL(38,6)) AS s6
           FROM cf JOIN tot USING (doc_id) GROUP BY 1),
         r AS (
           SELECT doc_id, CAST(n AS BIGINT) AS n_chars_counted,
                  CAST(nd AS BIGINT) AS n_distinct_chars,
                  CAST((2 * CAST(-s6 * 1000000 AS BIGINT) + n * 100)
                    // (n * 200) AS DOUBLE) / 10000 AS entropy
           FROM sm)
         SELECT d.doc_id,
                coalesce(r.n_chars_counted, 0) AS n_chars_counted,
                coalesce(r.n_distinct_chars, 0) AS n_distinct_chars,
                r.entropy,
                coalesce(r.entropy >= 2.0e0, false) AS keep
         FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id""",

    "q164_lexical_diversity" -> (TOKS +
      """, tok2 AS (
            SELECT doc_id, unnest(w) AS token FROM t),
          tok3 AS (SELECT * FROM tok2 WHERE token <> ''),
          tf AS (
            SELECT doc_id, token, count(*) AS c
            FROM tok3 GROUP BY 1, 2),
          tot AS (
            SELECT doc_id, sum(c) AS n, count(*) AS n_types,
                   sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax
            FROM tf GROUP BY 1),
          sm AS (
            SELECT tf.doc_id, max(n) AS n, max(n_types) AS n_types,
                   max(n_hapax) AS n_hapax,
                   CAST(sum(CAST(c AS DECIMAL(12,0))
                     * CAST(round(ln(CAST(c AS DOUBLE) / n), 6)
                       AS DECIMAL(10,6))) AS DECIMAL(38,6)) AS s6
            FROM tf JOIN tot USING (doc_id) GROUP BY 1),
          r AS (
            SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                   CAST(n_types AS BIGINT) AS n_types,
                   CAST(n_hapax AS BIGINT) AS n_hapax,
                   CAST((2000000 * n_types + n) // (2 * n) AS DOUBLE)
                     / 1000000 AS ttr,
                   CAST((2000000 * n_hapax + n_types)
                     // (2 * n_types) AS DOUBLE) / 1000000
                     AS hapax_ratio,
                   CAST((2 * CAST(-s6 * 1000000 AS BIGINT) + n * 100)
                     // (n * 200) AS DOUBLE) / 10000 AS entropy
            FROM sm)
          SELECT d.doc_id, coalesce(r.n_tokens, 0) AS n_tokens,
                 coalesce(r.n_types, 0) AS n_types,
                 coalesce(r.n_hapax, 0) AS n_hapax,
                 r.ttr, r.hapax_ratio, r.entropy
          FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
          ORDER BY d.doc_id"""),
    // q162: md5-bucketed unigram models, micro-nat DECIMAL log-ratio
    // sums (the perplexity bridge), deterministic top-100 keep
    "q162_dsir" -> (TOKS +
      """, tok AS (
            SELECT doc_id, (lang = 'en') AS tgt, unnest(w) AS token
            FROM t),
          tok2 AS (
            SELECT doc_id, tgt, token,
                   CAST(concat('0x', substr(md5(token), 1, 8))
                     AS BIGINT) % 256 AS bucket
            FROM tok WHERE token <> ''),
          counts AS (
            SELECT bucket, count(*) AS c_r,
                   sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_t
            FROM tok2 GROUP BY 1),
          tot AS (
            SELECT count(*) AS n_r,
                   sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS n_t
            FROM tok2),
          model AS (
            SELECT bucket,
                   CAST(round(ln(CAST(c_t + 1 AS DOUBLE)
                       / (n_t + 256)), 6) AS DECIMAL(28,6))
                   - CAST(round(ln(CAST(c_r + 1 AS DOUBLE)
                       / (n_r + 256)), 6) AS DECIMAL(28,6)) AS lr
            FROM counts, tot),
          per AS (
            SELECT doc_id, count(*) AS n_tokens, sum(lr) AS lw
            FROM tok2 JOIN model USING (bucket) GROUP BY 1),
          r AS (
            SELECT d.doc_id,
                   coalesce(per.n_tokens, 0) AS n_tokens, per.lw,
                   row_number() OVER (ORDER BY per.lw DESC NULLS LAST,
                     d.doc_id) AS rk
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id)
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(lw AS DOUBLE) AS log_weight,
                 CAST((lw IS NOT NULL AND rk <= 100) AS BIGINT)
                   AS kept
          FROM r ORDER BY doc_id"""),
    // q157: the q35 oracle with the corpus side semi-filtered by the
    // doc-table predicate
    "q157_hybrid_search" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv
                  FROM embeddings
                  WHERE vec_id IN (SELECT doc_id FROM documents
                                   WHERE lang = 'en')),
            s AS (SELECT qid, nid,
                         round(list_cosine_similarity(qv, cv), 4)
                           AS sim
                  FROM q, c WHERE qid <> nid),
            r AS (SELECT qid AS query_id, nid AS neighbor_id, sim,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY sim DESC, nid) AS rank
                  FROM s)
         SELECT query_id, rank, neighbor_id, sim FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // q158: distinct per-doc tokens → pair doc counts → PMI on
    // document frequencies; ln of an integer ratio, no tie exposure
    "q158_pmi_pairs" -> (TOKS +
      """, tok AS (
            SELECT DISTINCT doc_id, unnest(w) AS token FROM t),
          tok2 AS (SELECT * FROM tok WHERE token <> ''),
          dfreq AS (
            SELECT token, count(*) AS df FROM tok2 GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM documents),
          pairs AS (
            SELECT a.token AS token_a, b.token AS token_b,
                   count(*) AS df_ab
            FROM tok2 a JOIN tok2 b ON a.doc_id = b.doc_id
            WHERE a.token < b.token
            GROUP BY 1, 2 HAVING count(*) >= 5)
          SELECT token_b, token_a, df_ab,
                 fa.df AS df_a, fb.df AS df_b,
                 round(ln(CAST(n_docs AS DOUBLE) * df_ab
                       / (fa.df * fb.df)), 4) AS pmi
          FROM pairs
          JOIN dfreq fa ON fa.token = pairs.token_a
          JOIN dfreq fb ON fb.token = pairs.token_b
          CROSS JOIN n
          ORDER BY token_a, token_b"""),
    // q146b: probe-all + full-cover shortlist → the exact re-rank is
    // brute-force L2 over the original vectors (same bridge as q117b)
    "q146b_ivfpq_exact" -> ivfPqExactOracle,
    // q349: probe-all + full-coverage refine over the incrementally
    // grown index == brute force over the union corpus (the exact
    // re-rank reads original vectors) — q146b's oracle verbatim
    "q349_ivfpq_incremental" -> ivfPqExactOracle,
    "q93_trigram_perplexity" -> (TOKS +
      """, tok0 AS (SELECT doc_id, unnest(w) AS token,
                           unnest(range(len(w))) AS pos
            FROM t),
          tok AS (SELECT * FROM tok0 WHERE token <> ''),
          g AS (
            SELECT doc_id,
                   lag(token, 2) OVER (PARTITION BY doc_id
                     ORDER BY pos) AS w1,
                   lag(token, 1) OVER (PARTITION BY doc_id
                     ORDER BY pos) AS w2,
                   token AS w3
            FROM tok QUALIFY w1 IS NOT NULL),
          c3 AS (SELECT w1, w2, w3, count(*) AS c3
                 FROM g GROUP BY 1, 2, 3),
          c2 AS (SELECT w1, w2, count(*) AS c2 FROM g GROUP BY 1, 2),
          p AS (
            SELECT g.doc_id,
                   CAST(round(ln(CAST(c3.c3 AS DOUBLE) /
                     CAST(c2.c2 AS DOUBLE)), 6)
                     AS DECIMAL(28,6)) AS logp
            FROM g JOIN c3 USING (w1, w2, w3) JOIN c2 USING (w1, w2)),
          agg AS (
            SELECT doc_id, count(*) AS n_trigrams, sum(logp) AS s
            FROM p GROUP BY 1)
          SELECT d.doc_id,
                 coalesce(a.n_trigrams, 0) AS n_trigrams,
                 CAST((2 * CAST(-a.s * 1000000 AS BIGINT)
                       + 100 * a.n_trigrams)
                      // (200 * a.n_trigrams) AS DOUBLE) / 10000
                   AS cross_entropy,
                 round(exp(CAST((2 * CAST(-a.s * 1000000 AS BIGINT)
                       + a.n_trigrams)
                      // (2 * a.n_trigrams) AS DOUBLE) / 1000000), 4)
                   AS perplexity
          FROM documents d LEFT JOIN agg a USING (doc_id)
          ORDER BY doc_id"""),
    "q90_quantize_int8" ->
      """WITH v AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings),
         m AS (
           SELECT vec_id, vec,
                  list_aggregate(list_transform(vec, x -> abs(x)),
                    'max') AS maxabs
           FROM v),
         q AS (
           SELECT vec_id,
                  round(maxabs / 127.0, 6) AS scale,
                  CASE WHEN maxabs = 0
                    THEN list_transform(vec, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(vec,
                      x -> CAST(round(x / (maxabs / 127.0)) AS BIGINT))
                  END AS qvec
           FROM m)
         SELECT vec_id, scale,
                unnest(range(len(qvec))) AS pos,
                unnest(qvec) AS qval
         FROM q
         ORDER BY vec_id, pos""",
    "q88_bigram_perplexity" -> (TOKS +
      """, tok0 AS (SELECT doc_id, unnest(w) AS token,
                           unnest(range(len(w))) AS pos
            FROM t),
          tok AS (SELECT * FROM tok0 WHERE token <> ''),
          big AS (
            SELECT doc_id,
                   lag(token) OVER (PARTITION BY doc_id
                     ORDER BY pos) AS w1,
                   token AS w2
            FROM tok QUALIFY w1 IS NOT NULL),
          c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
          c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
          p AS (
            SELECT big.doc_id,
                   CAST(round(ln(CAST(c2.c2 AS DOUBLE) /
                     CAST(c1.c1 AS DOUBLE)), 6)
                     AS DECIMAL(28,6)) AS logp
            FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
          agg AS (
            SELECT doc_id, count(*) AS n_bigrams, sum(logp) AS s
            FROM p GROUP BY 1)
          SELECT d.doc_id,
                 coalesce(a.n_bigrams, 0) AS n_bigrams,
                 -- exact integer half-up at 4dp: round() on the double
                 -- quotient is engine-dependent exactly on ties; the
                 -- perplexity exponent is the 6dp (micro-nat) rounding
                 CAST((2 * CAST(-a.s * 1000000 AS BIGINT)
                       + 100 * a.n_bigrams)
                      // (200 * a.n_bigrams) AS DOUBLE) / 10000
                   AS cross_entropy,
                 round(exp(CAST((2 * CAST(-a.s * 1000000 AS BIGINT)
                       + a.n_bigrams)
                      // (2 * a.n_bigrams) AS DOUBLE) / 1000000), 4)
                   AS perplexity
          FROM documents d LEFT JOIN agg a USING (doc_id)
          ORDER BY doc_id"""),
    "q87_perplexity" -> (TOKS +
      """, tok0 AS (SELECT doc_id, unnest(w) AS token FROM t),
          tok AS (SELECT * FROM tok0 WHERE token <> ''),
          vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
          tot AS (SELECT sum(cnt) AS total FROM vocab),
          p AS (
            SELECT tok.doc_id,
                   CAST(round(ln(CAST(vocab.cnt AS DOUBLE) /
                     CAST(tot.total AS DOUBLE)), 6)
                     AS DECIMAL(28,6)) AS logp
            FROM tok JOIN vocab USING (token) CROSS JOIN tot),
          agg AS (
            SELECT doc_id, count(*) AS n_tokens,
                   sum(logp) AS sum_logp
            FROM p GROUP BY 1)
          SELECT d.doc_id,
                 coalesce(a.n_tokens, 0) AS n_tokens,
                 CAST((2 * CAST(-a.sum_logp * 1000000 AS BIGINT)
                       + 100 * a.n_tokens)
                      // (200 * a.n_tokens) AS DOUBLE) / 10000
                   AS cross_entropy,
                 round(exp(CAST((2 * CAST(-a.sum_logp * 1000000 AS BIGINT)
                       + a.n_tokens)
                      // (2 * a.n_tokens) AS DOUBLE) / 1000000), 4)
                   AS perplexity
          FROM documents d LEFT JOIN agg a USING (doc_id)
          ORDER BY doc_id"""),
    // q135: the q87 perplexity ladder + per-lang exact-quartile cut
    // points (0.25/0.75 are exact binary fractions — no literal drift)
    "q135_perplexity_buckets" -> (TOKS +
      """, tok0 AS (SELECT doc_id, unnest(w) AS token FROM t),
          tok AS (SELECT * FROM tok0 WHERE token <> ''),
          vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
          tot AS (SELECT sum(cnt) AS total FROM vocab),
          p AS (
            SELECT tok.doc_id,
                   CAST(round(ln(CAST(vocab.cnt AS DOUBLE) /
                     CAST(tot.total AS DOUBLE)), 6)
                     AS DECIMAL(28,6)) AS logp
            FROM tok JOIN vocab USING (token) CROSS JOIN tot),
          agg AS (
            SELECT doc_id, count(*) AS n_tokens,
                   sum(logp) AS sum_logp
            FROM p GROUP BY 1),
          ppl AS (
            SELECT d.doc_id, d.lang,
                   round(exp(CAST((2 * CAST(-a.sum_logp * 1000000
                         AS BIGINT) + a.n_tokens)
                      // (2 * a.n_tokens) AS DOUBLE) / 1000000), 4)
                     AS perplexity
            FROM documents d LEFT JOIN agg a USING (doc_id)),
          b AS (
            SELECT lang,
                   quantile_cont(CAST(round(perplexity * 10000, 0)
                     AS BIGINT), 0.25) / 10000 AS qlo,
                   quantile_cont(CAST(round(perplexity * 10000, 0)
                     AS BIGINT), 0.75) / 10000 AS qhi
            FROM ppl WHERE perplexity IS NOT NULL GROUP BY 1)
          SELECT pp.doc_id, pp.lang, pp.perplexity,
                 b.qlo AS lo, b.qhi AS hi,
                 CASE WHEN pp.perplexity IS NULL THEN 'empty'
                      WHEN pp.perplexity <= b.qlo THEN 'head'
                      WHEN pp.perplexity <= b.qhi THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM ppl pp LEFT JOIN b USING (lang)
          ORDER BY pp.doc_id"""),
    "q79_tfidf" -> (TOKS +
      """, tok AS (SELECT doc_id, unnest(w) AS token FROM t),
          tf AS (SELECT doc_id, token, count(*) AS tf
                 FROM tok GROUP BY 1, 2),
          dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM documents),
          scored AS (
            SELECT tf.doc_id, tf.token, tf.tf,
                   tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df)
                     AS score
            FROM tf JOIN dfreq USING (token) CROSS JOIN n),
          ranked AS (
            SELECT doc_id, token, tf, score,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY score DESC, token) AS rank
            FROM scored)
          SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
                 CAST(tf AS BIGINT) AS tf, round(score, 6) AS tfidf
          FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank"""),
    "q80_chunk_dedup" -> (TOKS +
      """, idx AS (
            SELECT doc_id, w,
                   unnest(range(CAST(ceil(len(w) / 20.0) AS BIGINT)))
                     AS chunk_idx
            FROM t),
          chunks AS (
            SELECT doc_id, chunk_idx,
                   array_to_string(
                     w[chunk_idx * 20 + 1 : chunk_idx * 20 + 20], ' ')
                     AS chunk
            FROM idx),
          flagged AS (
            SELECT doc_id, chunk,
                   row_number() OVER (PARTITION BY chunk
                     ORDER BY doc_id, chunk_idx) AS rn
            FROM chunks)
          SELECT doc_id, count(*) AS n_chunks,
                 CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_chunks,
                 CAST((2000000 * sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                       + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000
                   AS dup_ratio
          FROM flagged GROUP BY doc_id ORDER BY doc_id"""),
    "q77_vocab_topk" -> (TOKS +
      """ SELECT token, count(*) AS n
          FROM (SELECT unnest(w) AS token FROM t)
          GROUP BY token ORDER BY n DESC, token LIMIT 20"""),
    "q78_vocab_stats" -> (TOKS +
      """, tok AS (SELECT lang, unnest(w) AS token FROM t),
          per_type AS (
            SELECT lang, token, count(*) AS n
            FROM tok GROUP BY 1, 2)
          SELECT lang,
            CAST(sum(n) AS BIGINT) AS n_tokens,
            count(*) AS n_types,
            CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_hapax,
            CAST((2000000 * max(n) + sum(n)) // (2 * sum(n)) AS DOUBLE)
              / 1000000 AS top_share
          FROM per_type GROUP BY lang ORDER BY lang"""),
    "q76_embed_dedup_groups" ->
      """WITH RECURSIVE
           v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM v a JOIN v b ON a.vec_id < b.vec_id
                 WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.4),
           ed AS (SELECT id_a AS src, id_b AS dst FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
           reach(id, r) AS (
             SELECT vec_id, vec_id FROM v
             UNION
             SELECT ed.dst, reach.r FROM reach JOIN ed
               ON ed.src = reach.id)
         SELECT id AS vec_id, CAST(min(r) AS BIGINT) AS canonical
         FROM reach GROUP BY id ORDER BY vec_id""",
    "q75_canonical_by_quality" -> (TOKS +
      """, q AS (
            SELECT doc_id, text, len(w) AS n_tok,
              CAST(len(list_filter(w, x -> x IN ('the','a','an','and','of',
                'to','in','is','it','that'))) AS DOUBLE)
                / nullif(len(w), 0) AS sr,
              length(text)
                - length(regexp_replace(text, '[.,!?;:''"()\[\]-]', '', 'g'))
                AS np,
              length(text) AS nc
            FROM t),
          scored AS (
            SELECT q.doc_id,
              md5(array_to_string(list_sort(list_distinct(t.w)), ' '))
                AS group_key,
              round((CASE WHEN n_tok BETWEEN 10 AND 100000
                          THEN 0.4 ELSE 0.0 END)
                + (CASE WHEN sr > 0.05 THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN CAST(np AS DOUBLE) / nullif(nc, 0) < 0.1
                        THEN 0.3 ELSE 0.0 END), 4) AS canonical_quality
            FROM q JOIN t ON q.doc_id = t.doc_id),
          r AS (
            SELECT group_key, doc_id, canonical_quality,
              row_number() OVER (PARTITION BY group_key
                ORDER BY canonical_quality DESC, doc_id) AS rk,
              count(*) OVER (PARTITION BY group_key) AS n
            FROM scored)
          SELECT group_key, doc_id AS canonical_id,
            canonical_quality, CAST(n AS BIGINT) AS n_dups
          FROM r WHERE rk = 1 ORDER BY group_key"""),
    "q106_budget_select" -> (TOKS +
      """, q AS (
            SELECT doc_id, len(w) AS n_tok,
              CAST(len(list_filter(w, x -> x IN ('the','a','an','and',
                'of','to','in','is','it','that'))) AS DOUBLE)
                / nullif(len(w), 0) AS sr,
              length(text)
                - length(regexp_replace(text, '[.,!?;:''"()\[\]-]', '',
                    'g')) AS np,
              length(text) AS nc
            FROM t),
          sc AS (
            SELECT doc_id,
              round((CASE WHEN n_tok BETWEEN 10 AND 100000
                          THEN 0.4 ELSE 0.0 END)
                + (CASE WHEN sr > 0.05 THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN CAST(np AS DOUBLE) / nullif(nc, 0) < 0.1
                        THEN 0.3 ELSE 0.0 END), 4) AS quality,
              CAST(n_tok AS BIGINT) AS n_tokens
            FROM q),
          cum AS (
            SELECT doc_id, quality, n_tokens,
              CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens
            FROM sc)
          SELECT doc_id, quality, n_tokens, cum_tokens
          FROM cum WHERE cum_tokens <= 3000 ORDER BY cum_tokens"""),
    // q127: Zipf regression — decimal-exact sums, closed-form slope in
    // identical double arithmetic (unrounded slope reused in the
    // intercept, mirroring the Spark expression tree)
    "q127_zipf_slope" -> (TOKS +
      """, tok0 AS (SELECT source, unnest(w) AS token FROM t),
          tok AS (SELECT * FROM tok0 WHERE token <> ''),
          c AS (SELECT source, token, count(*) AS cnt
                FROM tok GROUP BY 1, 2),
          r AS (SELECT source, cnt, row_number() OVER (
                  PARTITION BY source ORDER BY cnt DESC, token) AS rank
                FROM c),
          v AS (SELECT source,
                  CAST(round(ln(CAST(rank AS DOUBLE)), 6)
                    AS DECIMAL(28,6)) AS x,
                  CAST(round(ln(CAST(cnt AS DOUBLE)), 6)
                    AS DECIMAL(28,6)) AS y
                FROM r),
          a AS (SELECT source, count(*) AS n_types,
                  CAST(sum(x) AS DOUBLE) AS sx,
                  CAST(sum(y) AS DOUBLE) AS sy,
                  CAST(sum(x * y) AS DOUBLE) AS sxy,
                  CAST(sum(x * x) AS DOUBLE) AS sxx
                FROM v GROUP BY 1)
          SELECT source, n_types,
                 round((n_types * sxy - sx * sy)
                   / nullif(n_types * sxx - sx * sx, 0), 4) AS slope,
                 round((sy - ((n_types * sxy - sx * sy)
                   / nullif(n_types * sxx - sx * sx, 0)) * sx)
                   / n_types, 4) AS intercept
          FROM a ORDER BY source"""),
    // q128: element-wise centroid per label — exact decimal sums over
    // the dim fanout, one double division (the q87 bridge)
    "q128_label_centroids" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS g,
                           embedding::DOUBLE[] AS v
                    FROM embeddings),
            x AS (SELECT g, i, v[i + 1] AS x
                  FROM e, range(0, 64) r(i)),
            a AS (SELECT g, i, count(*) AS n,
                         CAST(sum(CAST(round(x, 6) AS DECIMAL(28,6)))
                           * 1000000 AS BIGINT) AS sxu
                  FROM x GROUP BY 1, 2)
         SELECT g AS label, CAST(i AS BIGINT) AS i, n,
                CAST(CASE WHEN sxu < 0
                       THEN -((2 * (-sxu) + n) // (2 * n))
                       ELSE (2 * sxu + n) // (2 * n) END AS DOUBLE)
                  / 1000000 AS c
         FROM a ORDER BY label, i""",
    // q122: JSD over shared-token rows only — one-sided mass enters
    // via the probability complements; decimal sums, micro-bit
    // integer half-up halving (the q87 scheme)
    "q122_js_divergence" -> (TOKS +
      """, tok0 AS (SELECT source, unnest(w) AS token FROM t),
          tok AS (SELECT * FROM tok0 WHERE token <> ''),
          c AS (SELECT source, token, count(*) AS cnt
                FROM tok GROUP BY 1, 2),
          n AS (SELECT source, sum(cnt) AS n FROM c GROUP BY 1),
          p AS (SELECT c.source, c.token,
                       CAST(c.cnt AS DOUBLE) / CAST(n.n AS DOUBLE) AS p
                FROM c JOIN n USING (source)),
          pr AS (SELECT a.source AS source_a, b.source AS source_b,
                        a.p AS p, b.p AS q
                 FROM p a JOIN p b
                   ON a.token = b.token AND a.source < b.source),
          s AS (SELECT source_a, source_b,
                  count(*) AS shared_tokens,
                  sum(CAST(round(p * (ln(2 * p / (p + q)) / ln(2)), 6)
                    AS DECIMAL(28,6))) AS sa,
                  sum(CAST(round(q * (ln(2 * q / (p + q)) / ln(2)), 6)
                    AS DECIMAL(28,6))) AS sb,
                  sum(CAST(round(p, 6) AS DECIMAL(28,6))) AS pb,
                  sum(CAST(round(q, 6) AS DECIMAL(28,6))) AS qb
                FROM pr GROUP BY 1, 2),
          scored AS (
            SELECT source_a, source_b, shared_tokens,
                   CAST((greatest(
                       (1000000 - CAST(pb * 1000000 AS BIGINT))
                       + CAST(sa * 1000000 AS BIGINT)
                       + (1000000 - CAST(qb * 1000000 AS BIGINT))
                       + CAST(sb * 1000000 AS BIGINT), 0) + 1) // 2
                     AS DOUBLE) / 1000000 AS jsd
            FROM s),
          g AS (SELECT DISTINCT source FROM c)
          SELECT a.source AS source_a, b.source AS source_b,
                 coalesce(sc.shared_tokens, 0) AS shared_tokens,
                 coalesce(sc.jsd, 1.0) AS jsd
          FROM g a JOIN g b ON a.source < b.source
          LEFT JOIN scored sc
            ON sc.source_a = a.source AND sc.source_b = b.source
          ORDER BY source_a, source_b"""),
    "q105_source_overlap" ->
      """WITH t AS (
           SELECT source,
                  regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         sh AS (
           SELECT source,
             list_distinct(list_transform(range(1, len(w)),
               i -> w[i] || ' ' || w[i+1])) AS sh
           FROM t),
         g AS (
           SELECT DISTINCT source, unnest(sh) AS gram FROM sh),
         sz AS (SELECT source, count(*) AS sz FROM g GROUP BY 1),
         p AS (
           SELECT a.source AS source_a, b.source AS source_b,
                  count(*) AS shared_grams
           FROM g a JOIN g b
             ON a.gram = b.gram AND a.source < b.source
           GROUP BY 1, 2)
         SELECT source_a, source_b,
           CAST(sa.sz AS BIGINT) AS grams_a,
           CAST(sb.sz AS BIGINT) AS grams_b,
           CAST(shared_grams AS BIGINT) AS shared_grams,
           CAST((2000000 * shared_grams
                 + (sa.sz + sb.sz - shared_grams))
                // (2 * (sa.sz + sb.sz - shared_grams)) AS DOUBLE)
             / 1000000 AS jaccard
         FROM p
         JOIN sz sa ON sa.source = p.source_a
         JOIN sz sb ON sb.source = p.source_b
         ORDER BY source_a, source_b""",
    // q141: the q104 flag pipeline rolled up per source + the q32
    // fingerprint distinct — exact integer keep/dup rates
    "q141_source_quality_report" ->
      """WITH t AS (
           SELECT doc_id, source, text,
                  regexp_split_to_array(trim(text), '\s+') AS w,
                  string_split(text, chr(10)) AS ln
           FROM documents),
         q AS (
           SELECT doc_id, source,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(list_aggregate(list_transform(w, x -> length(x)),
                  'sum') AS BIGINT) AS sumlen,
             CAST(length(text) - length(replace(text, '#', ''))
                  AS BIGINT) AS nhash,
             CAST((length(text) - length(replace(text, '...', ''))) // 3
                  AS BIGINT) AS nell,
             CAST(len(list_filter(ln,
                  x -> regexp_matches(ltrim(x), '^[-*•]')))
                  AS BIGINT) AS bullets,
             CAST(len(list_filter(ln, x -> rtrim(x) LIKE '%...'))
                  AS BIGINT) AS ells,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                  AS BIGINT) AS alphaw,
             CAST(list_contains(w, 'the') AS BIGINT)
               + CAST(list_contains(w, 'be') AS BIGINT)
               + CAST(list_contains(w, 'to') AS BIGINT)
               + CAST(list_contains(w, 'of') AS BIGINT)
               + CAST(list_contains(w, 'and') AS BIGINT)
               + CAST(list_contains(w, 'that') AS BIGINT)
               + CAST(list_contains(w, 'have') AS BIGINT)
               + CAST(list_contains(w, 'with') AS BIGINT) AS stophits,
             CAST(len(ln) AS BIGINT) AS n_lines
           FROM t),
         k AS (
           SELECT doc_id, source,
             (CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1 ELSE 0 END)
             * (CASE WHEN sumlen >= n_words * 3
                  AND sumlen <= n_words * 10 THEN 1 ELSE 0 END)
             * (CASE WHEN (nhash + nell) * 10 <= n_words
                  THEN 1 ELSE 0 END)
             * (CASE WHEN bullets * 10 < n_lines * 9 THEN 1 ELSE 0 END)
             * (CASE WHEN ells * 10 < n_lines * 3 THEN 1 ELSE 0 END)
             * (CASE WHEN alphaw * 5 >= n_words * 4 THEN 1 ELSE 0 END)
             * (CASE WHEN stophits >= 2 THEN 1 ELSE 0 END) AS keep
           FROM q),
         fp AS (
           SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
           FROM documents),
         a AS (
           SELECT k.source, count(*) AS n_docs,
                  CAST(sum(k.keep) AS BIGINT) AS n_keep,
                  count(DISTINCT fp.fp) AS n_unique
           FROM k JOIN fp USING (doc_id) GROUP BY 1)
         SELECT source, n_docs, n_keep, n_unique,
                CAST((2000000 * n_keep + n_docs) // (2 * n_docs)
                  AS DOUBLE) / 1000000 AS keep_rate,
                CAST((2000000 * (n_docs - n_unique) + n_docs)
                  // (2 * n_docs) AS DOUBLE) / 1000000 AS dup_rate
         FROM a ORDER BY source""",
    "q104_gopher_rules" ->
      """WITH t AS (
           SELECT doc_id, text,
                  regexp_split_to_array(trim(text), '\s+') AS w,
                  string_split(text, chr(10)) AS ln
           FROM documents),
         q AS (
           SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(list_aggregate(list_transform(w, x -> length(x)),
                  'sum') AS BIGINT) AS sumlen,
             CAST(length(text) - length(replace(text, '#', ''))
                  AS BIGINT) AS nhash,
             CAST((length(text) - length(replace(text, '...', ''))) // 3
                  AS BIGINT) AS nell,
             CAST(len(list_filter(ln,
                  x -> regexp_matches(ltrim(x), '^[-*•]')))
                  AS BIGINT) AS bullets,
             CAST(len(list_filter(ln, x -> rtrim(x) LIKE '%...'))
                  AS BIGINT) AS ells,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                  AS BIGINT) AS alphaw,
             CAST(list_contains(w, 'the') AS BIGINT)
               + CAST(list_contains(w, 'be') AS BIGINT)
               + CAST(list_contains(w, 'to') AS BIGINT)
               + CAST(list_contains(w, 'of') AS BIGINT)
               + CAST(list_contains(w, 'and') AS BIGINT)
               + CAST(list_contains(w, 'that') AS BIGINT)
               + CAST(list_contains(w, 'have') AS BIGINT)
               + CAST(list_contains(w, 'with') AS BIGINT) AS stophits,
             CAST(len(ln) AS BIGINT) AS n_lines
           FROM t),
         f AS (
           SELECT doc_id, n_words, stophits AS n_stopword_hits,
             CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1 ELSE 0 END
               AS flag_word_count,
             CASE WHEN sumlen >= n_words * 3 AND sumlen <= n_words * 10
               THEN 1 ELSE 0 END AS flag_mean_word_len,
             CASE WHEN (nhash + nell) * 10 <= n_words THEN 1 ELSE 0 END
               AS flag_symbol_ratio,
             CASE WHEN bullets * 10 < n_lines * 9 THEN 1 ELSE 0 END
               AS flag_bullet_lines,
             CASE WHEN ells * 10 < n_lines * 3 THEN 1 ELSE 0 END
               AS flag_ellipsis_lines,
             CASE WHEN alphaw * 5 >= n_words * 4 THEN 1 ELSE 0 END
               AS flag_alpha_words,
             CASE WHEN stophits >= 2 THEN 1 ELSE 0 END AS flag_stopwords
           FROM q)
         SELECT doc_id, n_words, n_stopword_hits,
           CAST(flag_word_count AS BIGINT) AS flag_word_count,
           CAST(flag_mean_word_len AS BIGINT) AS flag_mean_word_len,
           CAST(flag_symbol_ratio AS BIGINT) AS flag_symbol_ratio,
           CAST(flag_bullet_lines AS BIGINT) AS flag_bullet_lines,
           CAST(flag_ellipsis_lines AS BIGINT) AS flag_ellipsis_lines,
           CAST(flag_alpha_words AS BIGINT) AS flag_alpha_words,
           CAST(flag_stopwords AS BIGINT) AS flag_stopwords,
           CAST(flag_word_count * flag_mean_word_len * flag_symbol_ratio
             * flag_bullet_lines * flag_ellipsis_lines * flag_alpha_words
             * flag_stopwords AS BIGINT) AS keep
         FROM f ORDER BY doc_id""",
    "q99_canonicalize" -> {
      import graft.functions.TextClean.{controlRe, unicodeSpaceRe, zeroWidthRe}
      s"""SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text,
             '$controlRe', '', 'g'),
             '$zeroWidthRe', '', 'g'),
             '$unicodeSpaceRe', ' ', 'g'),
             '\\s+', ' ', 'g')) AS clean_text,
           CAST(CASE WHEN text IS NULL THEN 0 ELSE
             len(regexp_split_to_array(text, '$controlRe'))
             + len(regexp_split_to_array(text, '$zeroWidthRe'))
             + len(regexp_split_to_array(text, '$unicodeSpaceRe')) - 3
             END AS BIGINT) AS n_noncanonical
         FROM documents ORDER BY doc_id"""
    },
    "q74_scrub" ->
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             'g'),
             '(https?://|www\.)[^\s]+', '<URL>', 'g'),
             '(^|[^0-9])((\+?[0-9][0-9 ().-]{5,14}[0-9]))($|[^0-9])',
             '\1<PHONE>\4', 'g'),
             '\s+', ' ', 'g')) AS clean_text,
           CAST(len(regexp_split_to_array(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1
             AS BIGINT) AS n_emails,
           CAST(len(regexp_split_to_array(text,
             '(https?://|www\.)[^\s]+')) - 1 AS BIGINT) AS n_urls
         FROM documents ORDER BY doc_id""",
    "q73_frame_sample" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
           CAST(ord(substr(text, CAST(i * 64 + 1 AS INT), 1)) AS BIGINT)
             AS frame_digest
         FROM (SELECT doc_id, text,
                 unnest(range(0, CAST(ceil(len(text) / 64.0) AS BIGINT)))
                   AS i
               FROM documents)
         ORDER BY doc_id, frame_no""",
    "q71_mix" ->
      """WITH h AS (
           SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
               1, 8)) AS BIGINT) AS bucket
           FROM documents)
         SELECT doc_id, lang FROM h
         WHERE bucket < CASE lang
           WHEN 'en' THEN 4294967296
           WHEN 'de' THEN 2147483648
           WHEN 'fr' THEN 1073741824
           ELSE 429496730 END
         ORDER BY doc_id""",
    "q82_temperature_mix" ->
      """WITH h AS (
           SELECT doc_id, lang,
             coalesce(CAST(lang AS VARCHAR), chr(1) || 'null') AS gk,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
               1, 8)) AS BIGINT) AS bucket
           FROM documents),
         c AS (
           SELECT gk, CAST(count(*) AS DOUBLE) AS n
           FROM h GROUP BY 1),
         z AS (
           SELECT sum(pow(n, 0.5)) AS z, sum(n) AS total FROM c)
         SELECT h.doc_id, h.lang
         FROM h JOIN c USING (gk) CROSS JOIN z
         WHERE h.bucket < round(
           LEAST(1.0, pow(c.n, 0.5) / z.z * z.total * 0.5 / c.n)
             * 4294967296.0)
         ORDER BY doc_id""",
    "q86_strip_boilerplate" -> (TOKS +
      """, l AS (
            SELECT doc_id, unnest(w) AS line,
                   unnest(range(len(w))) AS pos
            FROM t),
          b AS (
            SELECT line FROM l WHERE trim(line) <> ''
            GROUP BY 1 HAVING count(DISTINCT doc_id) >= 450),
          kept AS (
            SELECT l.doc_id, l.pos, l.line
            FROM l LEFT JOIN b USING (line) WHERE b.line IS NULL)
          SELECT d.doc_id, coalesce(k.txt, '') AS text_clean
          FROM documents d LEFT JOIN (
            SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS txt
            FROM kept GROUP BY 1) k USING (doc_id)
          ORDER BY doc_id"""),
    "q83_upsample_epochs" ->
      """WITH h AS (
           SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
               1, 8)) AS BIGINT) AS bucket
           FROM documents),
         r AS (
           SELECT doc_id, lang,
             CASE lang
               WHEN 'de' THEN 2 + CASE WHEN bucket < 2147483648
                 THEN 1 ELSE 0 END
               WHEN 'fr' THEN 1
               WHEN 'en' THEN 0 + CASE WHEN bucket < 3221225472
                 THEN 1 ELSE 0 END
               ELSE 1 END AS n
           FROM h)
         SELECT doc_id, lang, CAST(e.epoch AS BIGINT) AS epoch
         FROM r, UNNEST(generate_series(1, r.n)) AS e(epoch)
         WHERE n > 0
         ORDER BY doc_id, epoch""",
    "q72_pack" -> (TOKS +
      """, n AS (
            SELECT doc_id, lang,
              CAST(coalesce(len(w), 0) AS BIGINT) AS n_tokens
            FROM t),
          c AS (
            SELECT doc_id, lang, n_tokens,
              sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) - n_tokens AS tape_start
            FROM n)
          SELECT doc_id, lang, n_tokens,
            CAST(tape_start AS BIGINT) AS tape_start,
            CAST(tape_start // 256 AS BIGINT) AS seq_start,
            CAST(CASE WHEN n_tokens > 0
              THEN (tape_start + n_tokens - 1) // 256
              ELSE tape_start // 256 END AS BIGINT) AS seq_end,
            CAST(tape_start % 256 AS BIGINT) AS seq_offset
          FROM c ORDER BY doc_id"""),
    "q70_repetition" -> (TOKS +
      """, base AS (
            SELECT doc_id,
              CAST(coalesce(len(w), 0) AS BIGINT) AS n_tokens,
              CAST(coalesce(len(list_distinct(w)), 0) AS BIGINT)
                AS n_distinct,
              CAST(coalesce(len(list_distinct(list_transform(
                range(1, len(w)), i -> w[i] || ' ' || w[i+1]))), 0)
                AS BIGINT) AS n_bigram_distinct
            FROM t),
          top AS (
            SELECT doc_id, CAST(max(c) AS BIGINT) AS top_cnt
            FROM (SELECT doc_id, tok, count(*) AS c
                  FROM (SELECT doc_id, unnest(w) AS tok FROM t)
                  GROUP BY 1, 2)
            GROUP BY 1)
          SELECT b.doc_id, b.n_tokens, b.n_distinct,
            CASE WHEN b.n_tokens > 0 THEN
              CAST((2000000 * (b.n_tokens - b.n_distinct) + b.n_tokens)
                   // (2 * b.n_tokens) AS DOUBLE) / 1000000
              ELSE 0.0 END AS dup_token_frac,
            CASE WHEN b.n_tokens > 0 THEN
              CAST((2000000 * coalesce(t2.top_cnt, 0) + b.n_tokens)
                   // (2 * b.n_tokens) AS DOUBLE) / 1000000
              ELSE 0.0 END AS top_token_frac,
            CASE WHEN b.n_tokens > 1 THEN
              CAST((2000000 * (b.n_tokens - 1 - b.n_bigram_distinct)
                    + (b.n_tokens - 1))
                   // (2 * (b.n_tokens - 1)) AS DOUBLE) / 1000000
              ELSE 0.0 END AS dup_bigram_frac
          FROM base b LEFT JOIN top t2 USING (doc_id)
          ORDER BY b.doc_id"""),
    "q69_decontaminate" -> (TOKS +
      """, sh AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(w) - 3),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                     w[i+3] || ' ' || w[i+4])) AS sh
            FROM t),
          corp AS (
            SELECT doc_id, sh, CAST(coalesce(len(sh), 0) AS BIGINT)
              AS n_shingles
            FROM sh WHERE doc_id >= 50),
          bench AS (
            SELECT DISTINCT unnest(sh) AS shingle
            FROM sh WHERE doc_id < 50),
          inv AS (
            SELECT doc_id, unnest(sh) AS shingle FROM corp),
          hits AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
            FROM inv JOIN bench USING (shingle) GROUP BY 1)
          SELECT c.doc_id, c.n_shingles,
            CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
            round(coalesce(h.n_hit, 0) / greatest(c.n_shingles, 1), 6)
              AS contamination,
            CAST(CASE WHEN coalesce(h.n_hit, 0) /
              greatest(c.n_shingles, 1) >= 0.5 THEN 1 ELSE 0 END
              AS BIGINT) AS contaminated
          FROM corp c LEFT JOIN hits h USING (doc_id)
          ORDER BY c.doc_id"""),
    "q95_exact_substr" -> (TOKS +
      """, c AS (SELECT doc_id, w, len(w) AS n FROM t WHERE doc_id >= 50),
          b AS (SELECT DISTINCT array_to_string(w[i + 1 : i + 10], ' ')
                  AS gram
                FROM (SELECT w, unnest(range(len(w) - 9)) AS i
                      FROM t WHERE doc_id < 50)),
          cg AS (SELECT doc_id, n, i,
                   array_to_string(w[i + 1 : i + 10], ' ') AS gram
                 FROM (SELECT doc_id, n, w, unnest(range(n - 9)) AS i
                       FROM c)),
          h AS (SELECT cg.doc_id, cg.n, cg.i FROM cg JOIN b USING (gram))
      """ + SPAN_ROLLUP),
    "q96_self_substr" -> (TOKS +
      """, c AS (SELECT doc_id, w, len(w) AS n FROM t),
          cg AS (SELECT doc_id, n, i,
                   md5(array_to_string(w[i + 1 : i + 10], ' ')) AS g
                 FROM (SELECT doc_id, n, w, unnest(range(n - 9)) AS i
                       FROM c)),
          rk AS (SELECT doc_id, n, i,
                   row_number() OVER (PARTITION BY g
                     ORDER BY doc_id, i) AS rk
                 FROM cg),
          h AS (SELECT doc_id, n, i FROM rk WHERE rk > 1)
      """ + SPAN_ROLLUP),
    "q66_source_cap" ->
      """WITH h AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                 1, 8)) AS BIGINT), doc_id) AS rk
           FROM documents)
         SELECT doc_id, source FROM h WHERE rk <= 10
         ORDER BY doc_id""",
    "q65_hash_split" ->
      """WITH h AS (
           SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
               1, 8)) AS BIGINT) AS bucket
           FROM documents)
         SELECT doc_id, bucket,
           CASE WHEN bucket % 100 < 80 THEN 'train'
                WHEN bucket % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM h ORDER BY doc_id""",
    // q192: md5(epoch:doc_id) bucket % shards, whitespace token sums
    "q192_shard_manifest" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT) AS n_tok
           FROM documents),
         e AS (SELECT doc_id, n_tok,
                      unnest(generate_series(0, 2)) AS epoch FROM t),
         h AS (SELECT epoch, n_tok,
                 CAST(concat('0x', substr(md5(concat(
                   CAST(epoch AS VARCHAR), ':',
                   CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 8
                   AS shard
               FROM e)
         SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM h GROUP BY 1, 2 ORDER BY 1, 2""",
    // q193: hash-ordered batches inside token-length bins; pad each
    // batch to its longest member; integer ledger + exact ratio
    "q193_padding_waste" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT) AS n_tok
           FROM documents),
         b AS (SELECT doc_id, n_tok, n_tok // 64 AS bin FROM t),
         r AS (SELECT bin, n_tok,
                 (row_number() OVER (PARTITION BY bin
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
                   // 8 AS batch
               FROM b),
         g AS (SELECT bin, batch, count(*) AS bsz,
                      max(n_tok) AS maxt,
                      CAST(sum(n_tok) AS BIGINT) AS sumt
               FROM r GROUP BY 1, 2),
         f AS (SELECT bin, CAST(sum(bsz) AS BIGINT) AS n_docs,
                      CAST(count(*) AS BIGINT) AS n_batches,
                      CAST(sum(sumt) AS BIGINT) AS real_tokens,
                      CAST(sum(bsz * maxt - sumt) AS BIGINT)
                        AS padding_tokens
               FROM g GROUP BY 1)
         SELECT bin, n_docs, n_batches, real_tokens, padding_tokens,
                CAST((padding_tokens * 20000
                      + greatest(real_tokens + padding_tokens, 1))
                     // (2 * greatest(real_tokens + padding_tokens, 1))
                  AS DOUBLE) / 10000 AS pad_ratio
         FROM f ORDER BY bin""",
    // q194: micro-long per-dim sums; cosine on sum vectors (1/n
    // cancels); L2 clears denominators via sa·n_b − sb·n_a; HUGEINT
    // products mirror Spark's DECIMAL(38,0)
    "q194_centroid_drift" ->
      """WITH ext AS (
           SELECT min(vec_id) AS lo, max(vec_id) AS hi FROM embeddings),
         tg AS (
           SELECT CASE WHEN vec_id <= (lo + hi) / 2
                  THEN 'a' ELSE 'b' END AS half,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings, ext),
         ex AS (SELECT half, generate_subscripts(v, 1) - 1 AS i,
                       unnest(v) AS x
                FROM tg),
         sm AS (SELECT half, i, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CAST(round(x, 6) AS DECIMAL(28,6)))
                         * 1000000 AS BIGINT) AS s6
                FROM ex GROUP BY 1, 2),
         j AS (SELECT a.i, a.s6 AS sa6, b.s6 AS sb6,
                      a.n AS na, b.n AS nb
               FROM sm a JOIN sm b ON a.i = b.i
               WHERE a.half = 'a' AND b.half = 'b'),
         g AS (SELECT max(na) AS n_first, max(nb) AS n_second,
                      sum(CAST(sa6 AS HUGEINT) * sb6) AS dot,
                      sum(CAST(sa6 AS HUGEINT) * sa6) AS naa,
                      sum(CAST(sb6 AS HUGEINT) * sb6) AS nbb,
                      sum(CAST(sa6 * nb - sb6 * na AS HUGEINT)
                          * (sa6 * nb - sb6 * na)) AS d2
               FROM j)
         SELECT n_first, n_second,
                round(CAST(dot AS DOUBLE)
                      / sqrt(CAST(naa AS DOUBLE) * CAST(nbb AS DOUBLE)),
                  4) AS cosine,
                round(sqrt(CAST(d2 AS DOUBLE))
                      / (CAST(n_first AS DOUBLE) * n_second * 1000000),
                  6) AS l2_shift
         FROM g""",
    "q334_opening_diversity" ->
      """WITH f AS (
           SELECT source,
                  (regexp_split_to_array(trim(lower(text)),
                    '\s+'))[1] AS f
           FROM documents),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(count(DISTINCT f) AS BIGINT) AS n_openings
           FROM f GROUP BY 1)
         SELECT source, n_docs, n_openings,
                CAST((n_openings * 20000 + n_docs) // (2 * n_docs)
                  AS DOUBLE) / 10000 AS opening_diversity
         FROM g ORDER BY 1""",
    "q325_capitalization" ->
      """WITH c AS (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(text,
                    '(^|[.!?]\s+)[A-Za-z]')) AS BIGINT) AS starts,
                  CAST(len(regexp_extract_all(text,
                    '(^|[.!?]\s+)[A-Z]')) AS BIGINT) AS upper
           FROM documents)
         SELECT doc_id, starts AS n_sentence_starts,
                upper AS n_capitalized,
                CAST((upper * 20000 + greatest(starts, 1))
                     // (2 * greatest(starts, 1)) AS DOUBLE) / 10000
                  AS cap_rate
         FROM c ORDER BY 1""",
    "q322_vocab_stability" ->
      """WITH ext AS (
           SELECT min(doc_id) AS lo, max(doc_id) AS hi
           FROM documents),
         tok AS (
           SELECT DISTINCT
                  CASE WHEN doc_id * 2 <= lo + hi
                  THEN 'a' ELSE 'b' END AS h,
                  unnest(regexp_split_to_array(trim(lower(text)),
                    '\s+')) AS token
           FROM documents, ext),
         tk AS (SELECT h, token FROM tok WHERE token <> ''),
         a AS (SELECT DISTINCT token FROM tk WHERE h = 'a'),
         b AS (SELECT DISTINCT token FROM tk WHERE h = 'b'),
         sh AS (
           SELECT CAST(count(*) AS BIGINT) AS n_shared
           FROM a WHERE EXISTS (SELECT 1 FROM b
                                WHERE b.token = a.token)),
         na AS (SELECT CAST(count(*) AS BIGINT) AS types_first
                FROM a),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS types_second
                FROM b)
         SELECT types_first, types_second, n_shared,
                CAST((n_shared * 20000
                      + (types_first + types_second - n_shared))
                     // (2 * (types_first + types_second - n_shared))
                  AS DOUBLE) / 10000 AS jaccard
         FROM na, nb, sh""",
    "q319_len_quality_corr" -> (TOKS +
      """, q AS (
            SELECT source, CAST(n_chars AS BIGINT) AS x,
                   CAST(CAST(
                     round((CASE WHEN len(w) BETWEEN 10 AND 100000
                            THEN 0.4 ELSE 0.0 END)
                     + (CASE WHEN CAST(len(list_filter(w, x ->
                         list_contains(['the','a','an','and','of',
                           'to','in','is','it','that'], x)))
                         AS DOUBLE)
                         / nullif(len(w), 0) > 0.05
                        THEN 0.3 ELSE 0.0 END)
                     + (CASE WHEN CAST(length(text)
                         - length(regexp_replace(text,
                             '[.,!?;:''"()\[\]-]', '', 'g'))
                         AS DOUBLE)
                         / nullif(length(text), 0) < 0.1
                        THEN 0.3 ELSE 0.0 END), 4)
                     AS DECIMAL(14,4)) * 10000 AS BIGINT) AS y
            FROM t),
          g AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx,
                   sum(CAST(y AS HUGEINT) * y) AS syy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy
            FROM q GROUP BY 1)
          SELECT source, n AS n_docs,
                 round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy
                     AS DOUBLE)
                   / nullif(sqrt(
                       CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                         AS DOUBLE)
                     * CAST(n * syy - CAST(sy AS HUGEINT) * sy
                         AS DOUBLE)), 0), 4) AS len_quality_r
          FROM g WHERE n > 2 ORDER BY 1"""),
    "q302_dup_family_sizes" ->
      """WITH fam AS (
           SELECT md5(text) AS digest, CAST(count(*) AS BIGINT)
             AS family
           FROM documents GROUP BY 1)
         SELECT family, CAST(count(*) AS BIGINT) AS n_families
         FROM fam GROUP BY 1 ORDER BY 1""",
    "q303_source_quality_drift" -> (TOKS +
      """, ext AS (
            SELECT min(doc_id) AS lo, max(doc_id) AS hi
            FROM documents),
          q AS (
            SELECT source,
                   CASE WHEN doc_id * 2 <= lo + hi THEN 1 ELSE 2 END
                     AS half,
                   CAST(CAST(
                     round((CASE WHEN len(w) BETWEEN 10 AND 100000
                            THEN 0.4 ELSE 0.0 END)
                     + (CASE WHEN CAST(len(list_filter(w, x ->
                         list_contains(['the','a','an','and','of',
                           'to','in','is','it','that'], x)))
                         AS DOUBLE)
                         / nullif(len(w), 0) > 0.05
                        THEN 0.3 ELSE 0.0 END)
                     + (CASE WHEN CAST(length(text)
                         - length(regexp_replace(text,
                             '[.,!?;:''"()\[\]-]', '', 'g'))
                         AS DOUBLE)
                         / nullif(length(text), 0) < 0.1
                        THEN 0.3 ELSE 0.0 END), 4)
                     AS DECIMAL(14,4)) * 10000 AS BIGINT) AS q4
            FROM t, ext),
          g AS (
            SELECT source, half, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(q4) AS BIGINT) AS s
            FROM q GROUP BY 1, 2)
          SELECT source, CAST(half AS BIGINT) AS half, n_docs,
                 CAST((s * 20000 + n_docs * 10000)
                      // (2 * n_docs * 10000) AS DOUBLE) / 10000
                   AS mean_quality
          FROM g ORDER BY 1, 2"""),
    "q300_encoding_corruption" ->
      """WITH c AS (
           SELECT doc_id, source,
                  CAST(length(text) - length(regexp_replace(text,
                    '�', '', 'g')) AS BIGINT) AS n_replacement,
                  CAST(length(text) - length(regexp_replace(text,
                    '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
                    AS BIGINT) AS n_control
           FROM documents)
         SELECT doc_id, source, n_replacement, n_control,
                CAST(CASE WHEN n_replacement + n_control > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS is_corrupt
         FROM c ORDER BY doc_id""",
    "q296_split_uniformity" ->
      """WITH h AS (
           SELECT (CAST(concat('0x', substr(md5(CAST(doc_id
             AS VARCHAR)), 1, 8)) AS BIGINT) % 10) AS bucket
           FROM documents),
         cells AS (
           SELECT bucket, CAST(count(*) AS BIGINT) AS o
           FROM h GROUP BY 1),
         wn AS (
           SELECT bucket, o, CAST(sum(o) OVER () AS BIGINT) AS n
           FROM cells)
         SELECT bucket, o AS n_keys,
                CAST((n * 20000 + 10) // 20 AS DOUBLE) / 10000
                  AS expected,
                CAST((CAST(o * 10 - n AS HUGEINT) * (o * 10 - n)
                      * 20000 + CAST(n AS HUGEINT) * 10)
                     // (2 * CAST(n AS HUGEINT) * 10) AS DOUBLE)
                  / 10000 AS chi2_term
         FROM wn ORDER BY 1""",
    "q293_lang_mix_entropy" ->
      """WITH cnt AS (
           SELECT source, lang, CAST(count(*) AS BIGINT) AS c
           FROM documents GROUP BY 1, 2),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
                  CAST(sum(c) AS BIGINT) AS n_docs,
                  CAST(sum(CAST(round(CAST(c AS DOUBLE)
                    * ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS s
           FROM cnt GROUP BY 1)
         SELECT source, n_langs, n_docs,
                round(ln(CAST(n_docs AS DOUBLE)) - s / n_docs, 4)
                  AS entropy_nats
         FROM g ORDER BY 1""",
    "q281_template_groups" ->
      """SELECT substr(text, 1, 40) AS prefix,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(min(doc_id) AS BIGINT) AS first_doc
         FROM documents
         GROUP BY 1 HAVING count(*) >= 2
         ORDER BY 1""",
    "q282_vocab_growth" ->
      """WITH b AS (
           SELECT doc_id, text,
                  CAST(ntile(10) OVER (ORDER BY doc_id ASC)
                    AS BIGINT) AS bucket
           FROM documents),
         tok AS (
           SELECT bucket,
                  unnest(regexp_split_to_array(trim(lower(text)),
                    '\s+')) AS token
           FROM b),
         tk AS (SELECT * FROM tok WHERE token <> ''),
         vol AS (
           SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
           FROM tk GROUP BY 1),
         intro AS (
           SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_types
           FROM (SELECT token, CAST(min(bucket) AS BIGINT) AS bucket
                 FROM tk GROUP BY 1) t
           GROUP BY 1),
         j AS (
           SELECT vol.bucket, vol.n_tokens,
                  coalesce(intro.n_new_types, 0) AS n_new_types
           FROM vol LEFT JOIN intro ON vol.bucket = intro.bucket)
         SELECT bucket, n_tokens, n_new_types,
                CAST(sum(n_new_types) OVER (ORDER BY bucket
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
         FROM j ORDER BY 1""",
    "q275_code_detection" ->
      """WITH b AS (
           SELECT doc_id,
                  CAST(length(text) AS BIGINT) AS chars,
                  CAST(length(text) - length(regexp_replace(text,
                    '[{}()\[\];]', '', 'g')) AS BIGINT) AS syms,
                  regexp_split_to_array(text, '\n') AS lines
           FROM documents),
         c AS (
           SELECT doc_id, syms, chars,
                  CAST(len(list_filter(lines, l ->
                    regexp_matches(l, '^(\t|  )'))) AS BIGINT) AS ind,
                  CAST(len(lines) AS BIGINT) AS nl
           FROM b),
         d AS (
           SELECT doc_id, syms AS n_symbols, ind AS n_indented,
                  nl AS n_lines,
                  CAST((syms * 10000 * 2 + greatest(chars, 1))
                       // (2 * greatest(chars, 1)) AS DOUBLE) / 10000
                    AS symbol_share,
                  CAST((ind * 10000 * 2 + greatest(nl, 1))
                       // (2 * greatest(nl, 1)) AS DOUBLE) / 10000
                    AS indent_share
           FROM c)
         SELECT doc_id, n_symbols, n_indented, n_lines, symbol_share,
                indent_share,
                CAST(CASE WHEN symbol_share > 0.01
                       OR indent_share > 0.2
                     THEN 1 ELSE 0 END AS BIGINT) AS is_code
         FROM d ORDER BY doc_id""",
    "q288_hubness" ->
      """WITH a AS (
           SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           FROM embeddings),
         c AS (
           SELECT vec_id AS nid, embedding::DOUBLE[] AS cv
           FROM embeddings),
         s AS (
           SELECT qid, nid,
                  round(list_cosine_similarity(qv, cv), 4) AS sim
           FROM a, c WHERE qid <> nid),
         r AS (
           SELECT qid, nid, row_number() OVER (PARTITION BY qid
             ORDER BY sim DESC, nid) AS rnk
           FROM s),
         deg AS (
           SELECT nid, CAST(count(*) AS BIGINT) AS in_degree
           FROM r WHERE rnk <= 5 GROUP BY 1),
         alld AS (
           SELECT coalesce(deg.in_degree, 0) AS in_degree
           FROM embeddings LEFT JOIN deg ON vec_id = nid)
         SELECT in_degree, CAST(count(*) AS BIGINT) AS n_points
         FROM alld GROUP BY 1 ORDER BY 1""",
    "q269_knn_classifier" ->
      """WITH a AS (
           SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
                  CAST(label AS BIGINT) AS ql
           FROM embeddings),
         c AS (
           SELECT vec_id AS nid, embedding::DOUBLE[] AS cv,
                  CAST(label AS BIGINT) AS cl
           FROM embeddings),
         s AS (
           SELECT qid, ql, nid, cl,
                  round(list_cosine_similarity(qv, cv), 4) AS sim
           FROM a, c WHERE qid <> nid),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY sim DESC, nid) AS rnk
           FROM s),
         v AS (
           SELECT qid, ql, cl, count(*) AS v
           FROM r WHERE rnk <= 5 GROUP BY 1, 2, 3),
         p AS (
           SELECT qid, ql, cl AS pred FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY v DESC, cl ASC) AS rn
             FROM v) t WHERE rn = 1),
         g AS (
           SELECT ql AS label, CAST(count(*) AS BIGINT) AS n_points,
                  CAST(sum(CASE WHEN pred = ql THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct
           FROM p GROUP BY 1)
         SELECT label, n_points, n_correct,
                CAST((n_correct * 20000 + n_points)
                     // (2 * n_points) AS DOUBLE) / 10000 AS accuracy
         FROM g ORDER BY 1""",
    "q270_centroid_classifier" ->
      """WITH ex AS (
           SELECT vec_id AS id, CAST(label AS BIGINT) AS own,
                  generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x
           FROM (SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE))
                     AS v
                 FROM embeddings)),
         e6 AS (
           SELECT id, own, i,
                  CAST(CAST(round(x, 6) AS DECIMAL(28,6)) * 1000000
                    AS BIGINT) AS x6
           FROM ex),
         cent AS (
           SELECT own AS k, i, CAST(count(*) AS BIGINT) AS nk,
                  CAST(sum(CAST(round(x, 6) AS DECIMAL(28,6)))
                    * 1000000 AS BIGINT) AS s6
           FROM ex GROUP BY 1, 2),
         pc AS (
           SELECT id, own, k, nk,
                  sum(CAST(x6 * nk - s6 AS HUGEINT)
                      * (x6 * nk - s6)) AS q
           FROM e6 JOIN cent USING (i) GROUP BY 1, 2, 3, 4),
         dd AS (
           SELECT id, own, k,
                  sqrt(CAST(q AS DOUBLE))
                    / (CAST(nk AS DOUBLE) * 1000000) AS d
           FROM pc),
         p AS (
           SELECT id, own, k AS pred FROM (
             SELECT *, row_number() OVER (PARTITION BY id
               ORDER BY d ASC, k ASC) AS rn
             FROM dd) t WHERE rn = 1),
         g AS (
           SELECT own AS label, CAST(count(*) AS BIGINT) AS n_points,
                  CAST(sum(CASE WHEN pred = own THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct
           FROM p GROUP BY 1)
         SELECT label, n_points, n_correct,
                CAST((n_correct * 20000 + n_points)
                     // (2 * n_points) AS DOUBLE) / 10000 AS accuracy
         FROM g ORDER BY 1""",
    "q243_silhouette" ->
      """WITH ex AS (
           SELECT vec_id AS id, CAST(label AS BIGINT) AS own,
                  generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x
           FROM (SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE))
                     AS v
                 FROM embeddings)),
         e6 AS (
           SELECT id, own, i,
                  CAST(CAST(round(x, 6) AS DECIMAL(28,6)) * 1000000
                    AS BIGINT) AS x6
           FROM ex),
         cent AS (
           SELECT own AS k, i, CAST(count(*) AS BIGINT) AS nk,
                  CAST(sum(CAST(round(x, 6) AS DECIMAL(28,6)))
                    * 1000000 AS BIGINT) AS s6
           FROM ex GROUP BY 1, 2),
         pc AS (
           SELECT id, own, k, nk,
                  sum(CAST(x6 * nk - s6 AS HUGEINT)
                      * (x6 * nk - s6)) AS q
           FROM e6 JOIN cent USING (i) GROUP BY 1, 2, 3, 4),
         dd AS (
           SELECT id, own, k,
                  sqrt(CAST(q AS DOUBLE))
                    / (CAST(nk AS DOUBLE) * 1000000) AS d
           FROM pc),
         aa AS (SELECT id, own, d AS a FROM dd WHERE k = own),
         bb AS (
           SELECT id, b FROM (
             SELECT id, d AS b, row_number() OVER (PARTITION BY id
               ORDER BY d ASC, k ASC) AS rn
             FROM dd WHERE k <> own) t
           WHERE rn = 1),
         ss AS (
           SELECT own, a,
                  (b - a) / nullif(greatest(a, b), 0) AS s
           FROM aa JOIN bb USING (id)),
         s6t AS (
           SELECT own,
                  CAST(CAST(round(a, 6) AS DECIMAL(28,6)) * 1000000
                    AS BIGINT) AS a6,
                  CAST(CAST(round(s, 6) AS DECIMAL(28,6)) * 1000000
                    AS BIGINT) AS sx6
           FROM ss),
         g AS (
           SELECT own AS label, CAST(count(*) AS BIGINT) AS n_points,
                  CAST(sum(a6) AS BIGINT) AS sa6,
                  CAST(sum(sx6) AS BIGINT) AS ss6
           FROM s6t GROUP BY 1)
         SELECT label, n_points,
                CAST((sa6 * 2 + n_points * 100)
                     // (2 * n_points * 100) AS DOUBLE) / 10000
                  AS mean_dist,
                CAST(CASE WHEN ss6 < 0
                     THEN -((abs(ss6) * 2 + n_points * 100)
                            // (2 * n_points * 100))
                     ELSE (ss6 * 2 + n_points * 100)
                          // (2 * n_points * 100) END AS DOUBLE)
                  / 10000 AS silhouette
         FROM g ORDER BY 1""",
    "q244_davies_bouldin" ->
      """WITH ex AS (
           SELECT vec_id AS id, CAST(label AS BIGINT) AS own,
                  generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x
           FROM (SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE))
                     AS v
                 FROM embeddings)),
         e6 AS (
           SELECT id, own, i,
                  CAST(CAST(round(x, 6) AS DECIMAL(28,6)) * 1000000
                    AS BIGINT) AS x6
           FROM ex),
         cent AS (
           SELECT own AS k, i, CAST(count(*) AS BIGINT) AS nk,
                  CAST(sum(CAST(round(x, 6) AS DECIMAL(28,6)))
                    * 1000000 AS BIGINT) AS s6
           FROM ex GROUP BY 1, 2),
         pc AS (
           SELECT id, own, k, nk,
                  sum(CAST(x6 * nk - s6 AS HUGEINT)
                      * (x6 * nk - s6)) AS q
           FROM e6 JOIN cent USING (i)
           WHERE k = own GROUP BY 1, 2, 3, 4),
         dd AS (
           SELECT own,
                  sqrt(CAST(q AS DOUBLE))
                    / (CAST(nk AS DOUBLE) * 1000000) AS d
           FROM pc),
         sig AS (
           SELECT own AS l, CAST(count(*) AS BIGINT) AS n_points,
                  CAST(sum(CAST(CAST(round(d, 6) AS DECIMAL(28,6))
                    * 1000000 AS BIGINT)) AS BIGINT) AS sd6
           FROM dd GROUP BY 1),
         sigd AS (
           SELECT l, n_points, sd6,
                  CAST(sd6 AS DOUBLE) / (n_points * 1000000) AS sigma
           FROM sig),
         cd AS (
           SELECT a.k AS ka, b.k AS kb, a.nk AS na, b.nk AS nb,
                  sum(CAST(a.s6 * b.nk - b.s6 * a.nk AS HUGEINT)
                      * (a.s6 * b.nk - b.s6 * a.nk)) AS q
           FROM cent a JOIN cent b ON a.i = b.i AND a.k <> b.k
           GROUP BY 1, 2, 3, 4),
         mm AS (
           SELECT ka, kb,
                  sqrt(CAST(q AS DOUBLE))
                    / (CAST(na AS DOUBLE) * nb * 1000000) AS m
           FROM cd),
         rr AS (
           SELECT mm.ka, mm.kb, sa.n_points, sa.sd6,
                  (sa.sigma + sb.sigma) / mm.m AS r
           FROM mm JOIN sigd sa ON sa.l = mm.ka
                   JOIN sigd sb ON sb.l = mm.kb),
         top AS (
           SELECT *, row_number() OVER (PARTITION BY ka
             ORDER BY r DESC, kb ASC) AS rn
           FROM rr)
         SELECT ka AS label, n_points,
                CAST((sd6 * 2 + n_points * 100)
                     // (2 * n_points * 100) AS DOUBLE) / 10000
                  AS sigma,
                kb AS worst_neighbor, round(r, 4) AS db_ratio
         FROM top WHERE rn = 1 ORDER BY 1""",
    "q63_char_percentiles" ->
      """SELECT lang, source, count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "q60_bpe_tokens" ->
      """WITH p AS (
           SELECT doc_id,
             regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+') AS p
           FROM documents)
         SELECT doc_id,
           CAST(len(p) AS BIGINT) AS n_pieces,
           CAST(len(list_filter(p, x -> regexp_matches(x, '^[A-Za-z]')))
             AS BIGINT) AS n_word,
           CAST(len(list_filter(p, x -> regexp_matches(x, '^[0-9]')))
             AS BIGINT) AS n_num,
           CAST((20000 * list_aggregate(list_transform(p,
                   x -> length(x)), 'sum') + nullif(len(p), 0))
                // (2 * nullif(len(p), 0)) AS DOUBLE) / 10000
             AS mean_piece_len
         FROM p ORDER BY doc_id""",
    "q61_rolling_fingerprint" ->
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(regexp_extract_all(text, '.'),
                 c -> CAST(ascii(c) AS BIGINT))),
             (h, c) -> (h * 31 + c) % 2147483647) AS fp64
         FROM documents ORDER BY doc_id""",
    "q38_simhash" -> simhashOracle,
    "q39_minhash_lsh_pairs" -> minhashLshPairsOracle,
    "q198_lsh_quality" -> lshQualityOracle,
    // q215: the q34 capped-Jaccard chain + md5 split assignment on
    // both endpoints, canonical (least, greatest) pair key
    "q215_split_leakage" -> (TOKS +
      """, sets AS (
            SELECT doc_id, list_distinct(w) AS sh FROM t),
          inv0 AS (
            SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle
            FROM sets),
          inv AS (
            SELECT doc_id, sz, shingle FROM (
              SELECT doc_id, sz, shingle,
                     count(*) OVER (PARTITION BY shingle) AS df
              FROM inv0)
            WHERE df <= 400),
          p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.sz AS sa, b.sz AS sb, count(*) AS inter
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4),
          ex AS (
            SELECT id_a, id_b FROM p
            WHERE CAST((2000000 * inter + (sa + sb - inter))
                       // (2 * (sa + sb - inter)) AS DOUBLE) / 1000000
                  >= 0.6),
          sp AS (
            SELECT CAST(concat('0x', substr(md5(CAST(id_a AS VARCHAR)),
                     1, 8)) AS BIGINT) % 100 AS pa,
                   CAST(concat('0x', substr(md5(CAST(id_b AS VARCHAR)),
                     1, 8)) AS BIGINT) % 100 AS pb
            FROM ex),
          named AS (
            SELECT CASE WHEN pa < 80 THEN 'train'
                        WHEN pa < 90 THEN 'val' ELSE 'test' END AS sa,
                   CASE WHEN pb < 80 THEN 'train'
                        WHEN pb < 90 THEN 'val' ELSE 'test' END AS sb
            FROM sp),
          m AS (
            SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM named GROUP BY 1, 2)
          SELECT split_a, split_b, n_pairs,
                 split_a <> split_b AS is_leak
          FROM m ORDER BY 1, 2"""),
    // q218: q125's fingerprint, keep-first window, token sums billed
    // to the dropped doc's source
    "q218_dedup_savings" -> (TOKS +
      """, f AS (
            SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tok,
                   md5(array_to_string(list_sort(list_distinct(w)),
                     ' ')) AS fp
            FROM t),
          k AS (
            SELECT source, n_tok,
                   CAST(CASE WHEN doc_id <> min(doc_id)
                     OVER (PARTITION BY fp) THEN 1 ELSE 0 END
                     AS BIGINT) AS dropped
            FROM f),
          g AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dropped) AS BIGINT) AS n_dropped,
                   CAST(sum(n_tok) AS BIGINT) AS tokens_total,
                   CAST(sum(n_tok * dropped) AS BIGINT)
                     AS tokens_dropped
            FROM k GROUP BY 1)
          SELECT source, n_docs, n_dropped, tokens_total,
                 tokens_dropped,
                 CAST((tokens_dropped * 20000
                       + greatest(tokens_total, 1))
                      // (2 * greatest(tokens_total, 1)) AS DOUBLE)
                   / 10000 AS savings
          FROM g ORDER BY source"""),

    // q232: the q58 bigram construction; first occurrence = min id
    "q232_gram_novelty" -> (TOKS +
      """, sh AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(w)),
                i -> w[i] || ' ' || w[i+1])) AS sh
            FROM t),
          gr AS (SELECT doc_id, unnest(sh) AS g FROM sh),
          fo AS (SELECT g, min(doc_id) AS first_id FROM gr GROUP BY 1),
          per AS (
            SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN fo.first_id = gr.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
            FROM gr JOIN fo ON gr.g = fo.g GROUP BY 1)
          SELECT d.doc_id,
                 coalesce(per.n_grams, 0) AS n_grams,
                 coalesce(per.n_novel, 0) AS n_novel,
                 CAST((coalesce(per.n_novel, 0) * 20000
                       + greatest(coalesce(per.n_grams, 0), 1))
                      // (2 * greatest(coalesce(per.n_grams, 0), 1))
                   AS DOUBLE) / 10000 AS novelty
          FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
          ORDER BY d.doc_id"""),

    // q233: doc-level PII flags rolled per source; density = flagged
    // doc-flags over 3·docs
    "q233_pii_incidence" ->
      """WITH f AS (
           SELECT source,
                  CASE WHEN len(regexp_split_to_array(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                    - 1 > 0 THEN 1 ELSE 0 END AS he,
                  CASE WHEN len(regexp_split_to_array(text,
                    '(https?://|www\.)[^\s]+')) - 1 > 0
                    THEN 1 ELSE 0 END AS hu,
                  CASE WHEN len(regexp_split_to_array(text,
                    '(^|[^0-9])((\+?[0-9][0-9 ().-]{5,14}[0-9]))($|[^0-9])'))
                    - 1 > 0 THEN 1 ELSE 0 END AS hp
           FROM documents),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(he) AS BIGINT) AS n_email_docs,
                  CAST(sum(hu) AS BIGINT) AS n_url_docs,
                  CAST(sum(hp) AS BIGINT) AS n_phone_docs
           FROM f GROUP BY 1)
         SELECT source, n_docs, n_email_docs, n_url_docs, n_phone_docs,
                CAST(((n_email_docs + n_url_docs + n_phone_docs)
                      * 20000 + greatest(n_docs * 3, 1))
                     // (2 * greatest(n_docs * 3, 1)) AS DOUBLE)
                  / 10000 AS pii_density
         FROM g ORDER BY source""",

    // q211: total-ordered ntile (tokens desc, id asc), cumulative
    // share through the exact bridge
    "q211_token_lorenz" -> (TOKS +
      """, tl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok
                  FROM t),
          b AS (SELECT n_tok,
                       CAST(ntile(10) OVER (ORDER BY n_tok DESC,
                         doc_id ASC) AS BIGINT) AS bucket
                FROM tl),
          g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_tok) AS BIGINT) AS n_tokens
                FROM b GROUP BY 1),
          c AS (SELECT bucket, n_docs, n_tokens,
                       CAST(sum(n_tokens) OVER (ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                         ROW) AS BIGINT) AS cum_tokens,
                       CAST(sum(n_tokens) OVER () AS BIGINT) AS total
                FROM g)
          SELECT bucket, n_docs, n_tokens, cum_tokens,
                 CAST((cum_tokens * 20000 + greatest(total, 1))
                      // (2 * greatest(total, 1)) AS DOUBLE) / 10000
                   AS cum_share
          FROM c ORDER BY bucket"""),
    // q212: exact 6dp-decimal squares → norms; per-label variance via
    // the integer-style (n·Σx² − (Σx)²) decimal numerator
    "q212_norm_outliers" ->
      """WITH e AS (
           SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         ex AS (SELECT vec_id, label, unnest(v) AS x FROM e),
         sq AS (SELECT vec_id, label,
                       CAST(sum(CAST(round(x * x, 6) AS DECIMAL(28,6)))
                         AS DECIMAL(38,6)) AS ssq
                FROM ex GROUP BY 1, 2),
         nr AS (SELECT vec_id, label,
                       round(sqrt(CAST(ssq AS DOUBLE)), 6) AS norm
                FROM sq),
         lf AS (SELECT vec_id, label, norm,
                       CAST(CAST(norm AS DECIMAL(19,6)) * 1000000
                         AS BIGINT) AS m6
                FROM nr),
         mo AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(m6) AS BIGINT) AS s,
                       sum(CAST(m6 AS HUGEINT) * m6) AS ssq
                FROM lf GROUP BY 1),
         mm AS (SELECT label,
                       CAST(s AS DOUBLE) / n / 1000000 AS mu,
                       CASE WHEN n > 1 THEN
                         sqrt(CAST(n * ssq - CAST(s AS HUGEINT) * s
                                AS DOUBLE)
                              / CAST(n * (n - 1) AS DOUBLE)) / 1000000
                       END AS sd
                FROM mo)
         SELECT l.vec_id, l.label, l.norm,
                round((l.norm - mu) / nullif(sd, 0), 4) AS norm_z,
                coalesce(abs((l.norm - mu) / nullif(sd, 0)) >= 3e0,
                  false) AS is_outlier
         FROM lf l JOIN mm USING (label) ORDER BY l.vec_id""",
    // q203: struct-max mirrors — {'s': sim, 'n': -id} lexicographic
    // max ties to the lowest id on both engines
    "q203_triplets" ->
      """WITH a AS (
           SELECT vec_id AS anchor_id, label AS alabel,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS av
           FROM embeddings WHERE vec_id < 20),
         c AS (
           SELECT vec_id AS cand_id, label AS clabel,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           FROM embeddings),
         s AS (
           SELECT anchor_id, alabel, cand_id,
                  clabel = alabel AS same,
                  round(list_cosine_similarity(av, cv), 4) AS sim
           FROM a JOIN c ON anchor_id <> cand_id),
         g AS (
           SELECT anchor_id, alabel,
                  max(CASE WHEN same
                      THEN {'s': sim, 'n': -cand_id} END) AS p,
                  max(CASE WHEN NOT same
                      THEN {'s': sim, 'n': -cand_id} END) AS ng
           FROM s GROUP BY 1, 2)
         SELECT anchor_id, alabel AS anchor_label,
                -p.n AS positive_id, p.s AS positive_sim,
                -ng.n AS negative_id, ng.s AS negative_sim
         FROM g ORDER BY anchor_id""",
    // q199: list_filter mirrors of the map-side HOF flags
    "q199_line_shape" ->
      """WITH l AS (
           SELECT doc_id,
                  list_filter(string_split(text, chr(10)),
                    x -> trim(x) <> '') AS ls
           FROM documents),
         c AS (
           SELECT doc_id,
                  CAST(len(ls) AS BIGINT) AS n_lines,
                  CAST(len(list_filter(ls, x ->
                    regexp_matches(ltrim(x), '^[-*•]'))) AS BIGINT)
                    AS n_bullet,
                  CAST(len(list_filter(ls, x ->
                    regexp_matches(x, '[A-Z]')
                    AND NOT regexp_matches(x, '[a-z]'))) AS BIGINT)
                    AS n_caps,
                  CAST(len(list_filter(ls, x ->
                    regexp_matches(trim(x), '^[0-9 .,%$-]+$')))
                    AS BIGINT) AS n_numeric,
                  CAST(len(list_filter(ls, x ->
                    len(regexp_split_to_array(trim(x), '\s+')) < 3))
                    AS BIGINT) AS n_short
           FROM l)
         SELECT doc_id, n_lines, n_bullet, n_caps, n_numeric, n_short,
                CAST((n_bullet * 20000 + greatest(n_lines, 1))
                     // (2 * greatest(n_lines, 1)) AS DOUBLE) / 10000
                  AS bullet_ratio,
                CAST((n_short * 20000 + greatest(n_lines, 1))
                     // (2 * greatest(n_lines, 1)) AS DOUBLE) / 10000
                  AS short_ratio
         FROM c ORDER BY doc_id""",
    // q200: total-ordered top-1000 vocab (count desc, token asc), OOV
    // occurrence share through the exact bridge
    "q200_oov_rate" -> (TOKS +
      """, tok AS (SELECT doc_id, unnest(w) AS token FROM t),
          tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
          vc AS (SELECT token, count(*) AS cnt FROM tok2 GROUP BY 1),
          vocab AS (SELECT token FROM vc
                    ORDER BY cnt DESC, token ASC LIMIT 1000),
          per AS (
            SELECT t2.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0
                     END) AS BIGINT) AS n_oov
            FROM tok2 t2 LEFT JOIN vocab v ON t2.token = v.token
            GROUP BY 1)
          SELECT d.doc_id,
                 coalesce(per.n_tokens, 0) AS n_tokens,
                 coalesce(per.n_oov, 0) AS n_oov,
                 CAST((coalesce(per.n_oov, 0) * 20000
                       + greatest(coalesce(per.n_tokens, 0), 1))
                      // (2 * greatest(coalesce(per.n_tokens, 0), 1))
                   AS DOUBLE) / 10000 AS oov_rate
          FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
          ORDER BY d.doc_id"""),
    "q40_lsh_cosine_pairs" -> lshCosineOracle,
    "q28_token_stats" -> (TOKS +
      """ SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
            CAST(length(text) AS BIGINT) AS n_chars_measured,
            CAST((20000 * list_aggregate(list_transform(w,
                    x -> length(x)), 'sum') + nullif(len(w), 0))
                 // (2 * nullif(len(w), 0)) AS DOUBLE) / 10000
              AS mean_tok_len
          FROM t ORDER BY doc_id"""),
    "q29_quality" -> (TOKS +
      """, q AS (
            SELECT doc_id, len(w) AS n_tok,
              len(list_filter(w, x -> x IN ('the','a','an','and','of',
                'to','in','is','it','that'))) AS hits,
              CAST(len(list_filter(w, x -> x IN ('the','a','an','and','of',
                'to','in','is','it','that'))) AS DOUBLE)
                / nullif(len(w), 0) AS sr,
              length(text)
                - length(regexp_replace(text, '[.,!?;:''"()\[\]-]', '', 'g'))
                AS np,
              length(text) AS nc
            FROM t)
          SELECT doc_id,
            CAST((20000 * hits + nullif(n_tok, 0))
                 // (2 * nullif(n_tok, 0)) AS DOUBLE) / 10000
              AS stop_ratio,
            CAST(np AS BIGINT) AS n_punct,
            round((CASE WHEN n_tok BETWEEN 10 AND 100000
                        THEN 0.4 ELSE 0.0 END)
              + (CASE WHEN sr > 0.05 THEN 0.3 ELSE 0.0 END)
              + (CASE WHEN CAST(np AS DOUBLE) / nullif(nc, 0) < 0.1
                      THEN 0.3 ELSE 0.0 END), 4) AS quality
          FROM q ORDER BY doc_id"""),
    "q30_langid" -> (TOKS +
      """, h AS (
            SELECT doc_id,
              CAST(len(list_filter(w, x -> x IN ('the','a','and','of','is',
                'to'))) AS BIGINT) AS h_en,
              CAST(len(list_filter(w, x -> x IN ('el','la','y','de','es',
                'que'))) AS BIGINT) AS h_es,
              CAST(len(list_filter(w, x -> x IN ('der','die','und','das',
                'ist','nicht'))) AS BIGINT) AS h_de,
              CAST(len(list_filter(w, x -> x IN ('le','la','et','les','est',
                'une'))) AS BIGINT) AS h_fr
            FROM t)
          SELECT doc_id, h_en, h_es, h_de, h_fr,
            CASE WHEN greatest(h_en, h_es, h_de, h_fr) <= 0 THEN 'und'
                 WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
                 WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
                 WHEN h_de = greatest(h_en, h_es, h_de, h_fr) THEN 'de'
                 WHEN h_fr = greatest(h_en, h_es, h_de, h_fr) THEN 'fr'
                 ELSE 'und' END AS lang_guess
          FROM h ORDER BY doc_id"""),
    "q31_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
         count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q32_fingerprint" ->
      """SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fingerprint
         FROM documents ORDER BY doc_id""",
    "q33_minhash_sigs" -> (TOKS +
      """, sh AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(w)),
                i -> w[i] || ' ' || w[i+1])) AS sh
            FROM t)
          SELECT doc_id,
            list_aggregate(list_transform(sh, s -> md5('0|' || s)), 'min')
              AS sig_0,
            list_aggregate(list_transform(sh, s -> md5('1|' || s)), 'min')
              AS sig_1,
            list_aggregate(list_transform(sh, s -> md5('2|' || s)), 'min')
              AS sig_2,
            list_aggregate(list_transform(sh, s -> md5('3|' || s)), 'min')
              AS sig_3
          FROM sh ORDER BY doc_id"""),
    "q34_jaccard_pairs" -> (TOKS +
      """, sets AS (
            SELECT doc_id, list_distinct(w) AS sh FROM t),
          inv0 AS (
            SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM sets),
          inv AS (
            SELECT doc_id, sz, shingle FROM (
              SELECT doc_id, sz, shingle,
                     count(*) OVER (PARTITION BY shingle) AS df
              FROM inv0)
            WHERE df <= 400),
          p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.sz AS sa, b.sz AS sb, count(*) AS inter
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4),
          j AS (
            SELECT id_a, id_b, inter,
                   CAST((2000000 * inter + (sa + sb - inter))
                        // (2 * (sa + sb - inter)) AS DOUBLE) / 1000000
                     AS jaccard
            FROM p)
          SELECT id_a, id_b, inter, jaccard FROM j
          WHERE jaccard >= 0.6 ORDER BY id_a, id_b"""),
    "q50_media_features" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         CAST(length(text) AS BIGINT) AS n_bytes,
         CAST(16 + (ascii(substr(text, 1, 1)) % 128) AS BIGINT) AS width,
         CAST(16 + (ascii(substr(text, length(text) // 2 + 1, 1)) % 128)
           AS BIGINT) AS height
         FROM documents ORDER BY doc_id""",
    "q58_dedup_groups" -> (TOKS + q58Body +
      """
          SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canonical
          FROM reach GROUP BY id ORDER BY doc_id""")
      .replaceFirst("WITH t", "WITH RECURSIVE t"),
    // q353: the q58 component labeling + the q65 md5-residue split
    // applied to the CANONICAL id (group-granularity splitting)
    "q353_group_split" -> (TOKS + q58Body +
      """, lab AS (
            SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canonical
            FROM reach GROUP BY id)
          SELECT doc_id, canonical,
            CASE WHEN CAST(concat('0x',
                   substr(md5(CAST(canonical AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 < 80 THEN 'train'
                 WHEN CAST(concat('0x',
                   substr(md5(CAST(canonical AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 < 90 THEN 'val'
                 ELSE 'test' END AS split
          FROM lab ORDER BY doc_id""")
      .replaceFirst("WITH t", "WITH RECURSIVE t"),
    "q35_knn" -> knnOracle,
    // IVF with nProbe = nCentroids provably equals brute force — the
    // q35 oracle applies VERBATIM (same queries, same k, same ordering)
    "q57b_ivf_knn_full" -> knnOracle,
    // q345: probe-all over the incrementally-grown index == brute
    // force over the union corpus — q35's oracle verbatim
    "q345_ivf_incremental" -> knnOracle,
    // q346: the q33 signature replay (k=4) split corpus/batch, band
    // buckets md5('b|sig|sig') (band-prefixed, so bucket alone is the
    // join key), agreement = integer count of equal signature slots.
    // sig_0 IS NULL ⟺ shingle-less doc ⟺ null bucket in every band
    // (signatures are all-or-nothing per doc) — the banding filter.
    "q346_incremental_lsh" -> (TOKS +
      """, sh AS (
            SELECT doc_id,
              list_distinct(list_transform(range(1, len(w)),
                i -> w[i] || ' ' || w[i+1])) AS sh
            FROM t),
          sg AS (
            SELECT doc_id,
              list_aggregate(list_transform(sh, s -> md5('0|' || s)),
                'min') AS sig_0,
              list_aggregate(list_transform(sh, s -> md5('1|' || s)),
                'min') AS sig_1,
              list_aggregate(list_transform(sh, s -> md5('2|' || s)),
                'min') AS sig_2,
              list_aggregate(list_transform(sh, s -> md5('3|' || s)),
                'min') AS sig_3
            FROM sh),
          cb AS (
            SELECT doc_id AS cid, sig_0 AS c0, sig_1 AS c1,
                   sig_2 AS c2, sig_3 AS c3,
                   md5('0|' || sig_0 || '|' || sig_1) AS bucket
            FROM sg WHERE doc_id % 5 <> 0 AND sig_0 IS NOT NULL
            UNION ALL
            SELECT doc_id, sig_0, sig_1, sig_2, sig_3,
                   md5('1|' || sig_2 || '|' || sig_3)
            FROM sg WHERE doc_id % 5 <> 0 AND sig_0 IS NOT NULL),
          bb AS (
            SELECT doc_id AS bid, sig_0 AS b0, sig_1 AS b1,
                   sig_2 AS b2, sig_3 AS b3,
                   md5('0|' || sig_0 || '|' || sig_1) AS bucket
            FROM sg WHERE doc_id % 5 = 0 AND sig_0 IS NOT NULL
            UNION ALL
            SELECT doc_id, sig_0, sig_1, sig_2, sig_3,
                   md5('1|' || sig_2 || '|' || sig_3)
            FROM sg WHERE doc_id % 5 = 0 AND sig_0 IS NOT NULL),
          pr AS (
            SELECT bid, cid,
              max(CAST(c0 = b0 AS INT) + CAST(c1 = b1 AS INT) +
                  CAST(c2 = b2 AS INT) + CAST(c3 = b3 AS INT)) AS m
            FROM cb JOIN bb USING (bucket)
            GROUP BY bid, cid),
          pd AS (
            SELECT bid, count(*) AS n_candidates,
                   sum(CASE WHEN m >= 3 THEN 1 ELSE 0 END) AS n_dups
            FROM pr GROUP BY bid)
          SELECT sg.doc_id,
                 CAST(coalesce(pd.n_candidates, 0) AS BIGINT)
                   AS n_candidates,
                 CAST(coalesce(pd.n_dups, 0) AS BIGINT) AS n_dups,
                 CAST(CASE WHEN coalesce(pd.n_dups, 0) = 0
                      THEN 1 ELSE 0 END AS BIGINT) AS kept
          FROM sg LEFT JOIN pd ON sg.doc_id = pd.bid
          WHERE sg.doc_id % 5 = 0
          ORDER BY doc_id"""),
    // q356: the composed funnel (see ingestFunnelOracle scaladoc)
    "q356_ingest_funnel" -> ingestFunnelOracle,
    // q360: the same chain folded to the per-stage ledger counts
    "q360_funnel_ledger" -> ingestFunnelLedgerOracle,
    // q361: the funnel continued through the SimHash stage
    "q361_funnel_simhash" -> ingestFunnelSimhashOracle,
    // q362: all five flavors — the q361 chain + the semantic stage
    // replayed over the staged quantized grids (see scaladoc)
    "q362_funnel_semantic" -> ingestFunnelSemanticOracle,
    // q359: the staged (term, w4, idf4) table is the shared source of
    // truth; tfsat4 replays ExactRound.scaled's (num·2e4 + den)//(2·den)
    // on the all-integer rational form of the BM25 saturation, and the
    // score is a sum of exact longs — no float crosses the ranking
    "q359_rm3" -> (TOKS + s"""
       , tok3 AS (SELECT doc_id, unnest(w) AS term FROM t),
         tok4 AS (SELECT * FROM tok3 WHERE term <> ''),
         dlt AS (SELECT doc_id, count(*) AS dl FROM tok4 GROUP BY 1),
         tot AS (SELECT (SELECT sum(dl) FROM dlt) AS tt,
                        (SELECT count(*) FROM documents) AS nn),
         wt AS (SELECT term, CAST(w4 AS BIGINT) AS w4,
                       CAST(idf4 AS BIGINT) AS idf4
                FROM read_parquet(
                  '${MLQueries.StageToken}/q359/terms/*.parquet')),
         tfq AS (SELECT doc_id, term, count(*) AS tf
                 FROM tok4 JOIN wt USING (term) GROUP BY 1, 2),
         sc AS (SELECT doc_id,
                  CAST(sum(w4 * idf4 *
                    ((44 * tf * tt * 20000
                        + (20 * tf * tt + 6 * tt + 18 * dlt.dl * nn))
                     // (2 * (20 * tf * tt + 6 * tt + 18 * dlt.dl * nn))))
                    AS BIGINT) AS score12
                FROM tfq JOIN dlt USING (doc_id) CROSS JOIN tot
                JOIN wt USING (term)
                GROUP BY 1),
         rk AS (SELECT doc_id, score12,
                  row_number() OVER (ORDER BY score12 DESC, doc_id)
                    AS rank
                FROM sc WHERE score12 > 0)
       SELECT doc_id, CAST(rank AS BIGINT) AS rank, score12,
              CAST(score12 AS DOUBLE) / 1e12 AS score
       FROM rk WHERE rank <= 10 ORDER BY rank"""),
    // q357: literal-sign projection replay + explicit left-associated
    // distance chains — bit-equal to the Spark fold before the round
    "q357_jl_distortion" -> jlDistortionOracle,
    // q358: the q38 simhash replay split corpus/batch, 4×16-bit
    // pigeonhole banding ((simhash >> band*16) & 65535 — the mask
    // discards the arithmetic-vs-logical shift difference), exact
    // Hamming via bit_count(xor) at the bucket match, per-doc verdict
    // in the q346 shape
    "q358_incremental_simhash" -> (TOKS + simhashBody + """
       , cbs AS (SELECT doc_id AS cid, simhash AS ch, band,
                  (simhash >> (band * 16)) & 65535 AS bucket
                FROM sm, (SELECT unnest([0, 1, 2, 3]) AS band) bx
                WHERE doc_id % 5 <> 0 AND simhash IS NOT NULL),
         bbs AS (SELECT doc_id AS bid, simhash AS bh, band,
                  (simhash >> (band * 16)) & 65535 AS bucket
                FROM sm, (SELECT unnest([0, 1, 2, 3]) AS band) bx
                WHERE doc_id % 5 = 0 AND simhash IS NOT NULL),
         prs AS (SELECT bid, cid, min(bit_count(xor(ch, bh))) AS hd
                FROM cbs JOIN bbs USING (band, bucket)
                GROUP BY bid, cid),
         pds AS (SELECT bid, count(*) AS n_candidates,
                  sum(CASE WHEN hd <= 3 THEN 1 ELSE 0 END) AS n_dups
                FROM prs GROUP BY bid)
       SELECT sm.doc_id,
         CAST(coalesce(pds.n_candidates, 0) AS BIGINT) AS n_candidates,
         CAST(coalesce(pds.n_dups, 0) AS BIGINT) AS n_dups,
         CAST(CASE WHEN coalesce(pds.n_dups, 0) = 0 THEN 1 ELSE 0 END
           AS BIGINT) AS kept
       FROM sm LEFT JOIN pds ON sm.doc_id = pds.bid
       WHERE sm.doc_id % 5 = 0
       ORDER BY doc_id"""),
    // q348: pure integer replay over the STAGED quantized inputs (the
    // q336 discipline, mandated by the PLANS.md round-10 rule for any
    // new oracle whose selection consumes a recomputed cosine):
    // sim4 >= 4000 is the tau=0.4 test, csim4 integer comparisons the
    // prototypicality domination, cluster co-membership baked into
    // the staged grids
    "q348_incremental_semdedup" ->
      s"""WITH b AS (
            SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
                   CAST(csim4 AS BIGINT) AS csim4
            FROM read_parquet(
              '${MLQueries.StageToken}/q348/basg/*.parquet')),
          cg AS (
            SELECT bid, CAST(sim4 AS BIGINT) AS sim4
            FROM read_parquet(
              '${MLQueries.StageToken}/q348/cross/*.parquet')),
          bg AS (
            SELECT ia, ib, CAST(sim4 AS BIGINT) AS sim4
            FROM read_parquet(
              '${MLQueries.StageToken}/q348/bpairs/*.parquet')),
          ds AS (SELECT DISTINCT bid AS vec_id FROM cg
                 WHERE sim4 >= 4000),
          db AS (
            SELECT DISTINCT p.vec_id FROM (
              SELECT ia AS vec_id, ib AS other, sim4 FROM bg
              UNION ALL
              SELECT ib AS vec_id, ia AS other, sim4 FROM bg) p
            JOIN b x ON x.vec_id = p.vec_id
            JOIN b y ON y.vec_id = p.other
            WHERE p.sim4 >= 4000
              AND (y.csim4 < x.csim4
                   OR (y.csim4 = x.csim4 AND y.vec_id < x.vec_id)))
          SELECT b.vec_id, b.cluster,
                 CAST(b.csim4 AS DOUBLE) / 10000 AS centroid_sim,
                 CASE WHEN ds.vec_id IS NOT NULL THEN 'state'
                      WHEN db.vec_id IS NOT NULL THEN 'batch'
                      ELSE NULL END AS drop_reason,
                 (ds.vec_id IS NULL AND db.vec_id IS NULL) AS kept
          FROM b
          LEFT JOIN ds ON b.vec_id = ds.vec_id
          LEFT JOIN db ON b.vec_id = db.vec_id
          ORDER BY b.vec_id""",
    // q347: verdicts re-derived from raw columns (IS DISTINCT FROM)
    // instead of replaying the md5 fingerprint — stronger, not weaker:
    // it checks the fingerprint DECISION, not the digest algebra
    "q347_snapshot_diff" ->
      """WITH o AS (
            SELECT doc_id, text, lang, source, n_chars
            FROM documents WHERE doc_id % 7 <> 0),
          nw AS (
            SELECT doc_id, text,
              CASE WHEN doc_id % 4 = 0 THEN upper(lang) ELSE lang END
                AS lang,
              source, n_chars
            FROM documents WHERE doc_id % 3 <> 0)
          SELECT coalesce(o.doc_id, nw.doc_id) AS doc_id,
            CASE WHEN o.doc_id IS NULL THEN 'added'
                 WHEN nw.doc_id IS NULL THEN 'removed'
                 WHEN (o.text IS DISTINCT FROM nw.text)
                   OR (o.lang IS DISTINCT FROM nw.lang)
                   OR (o.source IS DISTINCT FROM nw.source)
                   OR (o.n_chars IS DISTINCT FROM nw.n_chars)
                   THEN 'changed'
                 ELSE 'unchanged' END AS change
          FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id
          ORDER BY doc_id""",
    // q338: exact baseline replayed independently (the q35 chain),
    // ANN pairs read from the STAGE (Lloyd k-means is not
    // SQL-replayable), recall = pure integer algebra — hits/k via
    // the half-up bridge round(h/10, 4dp) = (h*20000 + 10) // 20
    "q338_ann_recall" -> (knnChain +
      s""", ex AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 10),
          ann AS (
            SELECT DISTINCT query_id, neighbor_id
            FROM read_parquet(
              '${MLQueries.StageToken}/q338/ann/*.parquet')),
          j AS (
            SELECT e.query_id,
                   CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0
                   END AS h
            FROM ex e LEFT JOIN ann a
              ON e.query_id = a.query_id
             AND e.neighbor_id = a.neighbor_id),
          g AS (
            SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
                   CAST(sum(h) AS BIGINT) AS n_hits
            FROM j GROUP BY 1)
        SELECT query_id, n_exact, n_hits,
               CAST((n_hits * 20000 + 10) // 20 AS DOUBLE) / 10000
                 AS recall_at_k
        FROM g ORDER BY query_id"""),
    "q67b_exact_profile" ->
      """SELECT lang, count(*) AS n_docs,
           count(DISTINCT source) AS nd_sources,
           count(DISTINCT doc_id) AS nd_docs,
           round(quantile_cont(n_chars, 0.5), 4) AS chars_q50,
           round(quantile_cont(n_chars, 0.9), 4) AS chars_q90
         FROM documents GROUP BY lang ORDER BY lang""",
    "q76b_embed_dedup_lsh" -> embedLshGroupsOracle,
    "q107_semantic_dedup" -> (semDedupCtes + """
         SELECT a.vec_id, a.cl AS cluster, a.csim AS centroid_sim,
                (d.vec_id IS NULL) AS kept
         FROM asg a LEFT JOIN dropped d ON a.vec_id = d.vec_id
         ORDER BY a.vec_id"""),
    "q109_diversify" -> (semDedupCtes + """
         , kept AS (SELECT a.vec_id, a.cl, a.csim
                    FROM asg a LEFT JOIN dropped d
                      ON a.vec_id = d.vec_id
                    WHERE d.vec_id IS NULL),
           rk AS (SELECT vec_id, cl, csim,
                    row_number() OVER (PARTITION BY cl
                      ORDER BY csim ASC, vec_id) AS r,
                    count(*) OVER (PARTITION BY cl) AS n
                  FROM kept)
         SELECT vec_id, cl AS cluster, csim AS centroid_sim
         FROM rk WHERE r <= ceil(n * 0.5) ORDER BY vec_id"""),
    // q120: median/MAD per source — exact interpolated quantile_cont
    // (the q116-established bridge); all intermediates are exact
    // binary fractions over BIGINT inputs
    "q120_mad_outliers" ->
      """WITH m AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
                    FROM documents GROUP BY source),
            d AS (SELECT doc_id, dd.source, dd.n_chars, m.med,
                         abs(dd.n_chars - m.med) AS adev
                  FROM documents dd JOIN m USING (source)),
            md AS (SELECT source, quantile_cont(adev, 0.5) AS mad
                   FROM d GROUP BY source)
         SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
                round(d.med, 4) AS med, round(md.mad, 4) AS mad,
                CAST(CASE WHEN d.adev <= 3.0 * md.mad THEN 1 ELSE 0 END
                  AS BIGINT) AS is_inlier
         FROM d JOIN md USING (source) ORDER BY d.doc_id""",
    // q121: bigram containment with the same maxDf cap and exact
    // integer half-up ratio as the Spark side (the q34 formulation,
    // directional denominators)
    "q121_containment_pairs" -> (TOKS +
      """, sets AS (
            SELECT doc_id, list_distinct(list_transform(
              range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS sh
            FROM t),
          inv0 AS (
            SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle
            FROM sets),
          inv AS (
            SELECT doc_id, sz, shingle FROM (
              SELECT doc_id, sz, shingle,
                     count(*) OVER (PARTITION BY shingle) AS df
              FROM inv0)
            WHERE df <= 400),
          p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.sz AS sa, b.sz AS sb, count(*) AS inter
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4),
          j AS (
            SELECT id_a, id_b, inter,
                   CAST((2000000 * inter + sa) // (2 * sa) AS DOUBLE)
                     / 1000000 AS cont_a_in_b,
                   CAST((2000000 * inter + sb) // (2 * sb) AS DOUBLE)
                     / 1000000 AS cont_b_in_a
            FROM p)
          SELECT id_a, id_b, inter, cont_a_in_b, cont_b_in_a FROM j
          WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.8
          ORDER BY id_a, id_b"""),
    // q133: bigram minhash sigs (the q33/q39 md5 construction),
    // band-bucket candidates, all-integer containment estimator with
    // the exact half-up ratio
    "q133_containment_lsh" -> (TOKS +
      """, sh0 AS (
            SELECT doc_id, list_distinct(list_transform(
              range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS sh
            FROM t),
          sz AS (SELECT doc_id, len(sh) AS sz FROM sh0),
          sig AS (SELECT doc_id, """ +
      (0 until 8).map(i =>
        s"list_aggregate(list_transform(sh, s -> md5('$i|' || s)), " +
          s"'min') AS s$i").mkString(",\n            ") + """
            FROM sh0),
          banded AS (
            """ + (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, s${2 * b} || '|' || s${2 * b + 1}" +
          " AS bucket FROM sig").mkString("\n            UNION ALL ") + """),
          cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          m AS (
            SELECT id_a, id_b,
                   (""" + (0 until 8).map(i =>
        s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
        .mkString("\n                    + ") + """) AS matches,
                   za.sz AS sa, zb.sz AS sb
            FROM cand
            JOIN sig sa ON sa.doc_id = id_a
            JOIN sig sb ON sb.doc_id = id_b
            JOIN sz za ON za.doc_id = id_a
            JOIN sz zb ON zb.doc_id = id_b),
          e AS (
            SELECT id_a, id_b, CAST(matches AS BIGINT) AS matches,
                   CAST((2000000 * matches * (sa + sb)
                         + (8 + matches) * sa)
                        // (2 * (8 + matches) * sa) AS DOUBLE) / 1000000
                     AS cont_a_est,
                   CAST((2000000 * matches * (sa + sb)
                         + (8 + matches) * sb)
                        // (2 * (8 + matches) * sb) AS DOUBLE) / 1000000
                     AS cont_b_est
            FROM m)
          SELECT id_a, id_b, matches, cont_a_est, cont_b_est FROM e
          WHERE greatest(cont_a_est, cont_b_est) >= 0.8
          ORDER BY id_a, id_b"""),
    "q116_length_outliers" ->
      """WITH b AS (SELECT lang,
                      quantile_cont(n_chars, 0.01) AS qlo,
                      quantile_cont(n_chars, 0.99) AS qhi
                    FROM documents GROUP BY lang)
         SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
                round(b.qlo, 4) AS lo, round(b.qhi, 4) AS hi,
                (d.n_chars >= b.qlo AND d.n_chars <= b.qhi)
                  AS within_bounds
         FROM documents d JOIN b USING (lang)
         ORDER BY d.doc_id""",
    "q115_stratified_split" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                    FROM embeddings),
            r AS (SELECT vec_id, label,
                    row_number() OVER (PARTITION BY label
                      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                      AS rk,
                    count(*) OVER (PARTITION BY label) AS n
                  FROM e)
         SELECT vec_id, label,
                CASE WHEN rk <= ceil(n * 0.8) THEN 'train'
                     ELSE 'test' END AS split
         FROM r ORDER BY vec_id""",
    "q114_chunk" -> (TOKS + """
         , s AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS st
                 FROM t WHERE len(w) > 0)
         SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
                array_to_string(list_slice(w, st + 1, st + 32), ' ')
                  AS chunk_text,
                CAST(least(32, len(w) - st) AS BIGINT) AS n_tokens
         FROM s ORDER BY doc_id, chunk_id"""),
    "q110_semantic_decontaminate" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
                    FROM embeddings),
            b AS (SELECT vec_id AS bid, e AS be FROM v
                  WHERE vec_id < 16),
            s AS (SELECT v.vec_id, b.bid,
                    round(list_cosine_similarity(v.e, b.be), 4) AS sim,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY round(list_cosine_similarity(v.e, b.be),
                        4) DESC, b.bid) AS rk
                  FROM v, b WHERE v.vec_id >= 16)
         SELECT vec_id, bid AS nearest_bench, sim AS bench_sim,
                sim >= 0.5 AS contaminated
         FROM s WHERE rk = 1 ORDER BY vec_id""",
    "q92_knn_quantized" ->
      """WITH v AS (SELECT vec_id,
                    list_transform(embedding,
                      x -> CAST(x AS DOUBLE)) AS vec
                    FROM embeddings),
            m AS (SELECT vec_id, vec,
                         list_aggregate(list_transform(vec,
                           x -> abs(x)), 'max') AS maxabs
                  FROM v),
            qz AS (SELECT vec_id,
                     CASE WHEN maxabs = 0
                       THEN list_transform(vec, x -> 0.0)
                       ELSE list_transform(vec, x -> CAST(CAST(
                         round(x / (maxabs / 127.0)) AS BIGINT)
                         AS DOUBLE))
                     END AS e
                   FROM m),
            q AS (SELECT vec_id AS qid, e AS qv FROM qz
                  WHERE vec_id < 5),
            c AS (SELECT vec_id AS nid, e AS cv FROM qz),
            s AS (SELECT qid, nid,
                         round(list_cosine_similarity(qv, cv), 4) AS sim
                  FROM q, c WHERE qid <> nid),
            r AS (SELECT qid AS query_id, nid AS neighbor_id, sim,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY sim DESC, nid) AS rank
                  FROM s)
         SELECT query_id, rank, neighbor_id, sim FROM r
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "q36_cosine_pairs" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.e, b.e), 4) AS sim
         FROM v a JOIN v b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.4
         ORDER BY id_a, id_b""",
    "q37_embed_stats" ->
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
                    FROM embeddings)
         SELECT vec_id, label,
                round(sqrt(list_dot_product(e, e)), 4) AS norm,
                round(list_aggregate(e, 'sum') / nullif(len(e), 0), 4)
                  AS mean_val
         FROM v ORDER BY vec_id""")
}
