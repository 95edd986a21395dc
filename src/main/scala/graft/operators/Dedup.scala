package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Corpus deduplication operators for training-data pipelines.
  *
  * Four families, all shuffle-by-key (never O(n²) cross join), so each
  * scales to 100 TB with executor-count parallelism:
  *  - exact: hash-groupBy on content digest
  *  - minhash LSH: shingle → signature → band bucket → same-bucket pairs
  *  - simhash: 64-bit fingerprint, band-rotated bucketing
  *  - n-gram Jaccard: inverted-index self-join (pair generation by shared
  *    shingle, counts → Jaccard), the exact counterpart LSH approximates
  */
object Dedup {

  /** Exact dedup: canonical row per distinct text (min id wins), with
    * duplicate count. One hash aggregation. */
  def exact(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(graft.plans.FastMd5.column(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Near-dup groups with QUALITY-AWARE canonical selection: within
    * each FINGERPRINT group (same distinct-token set — reordered or
    * token-repeated copies land together, where byte-identical copies
    * would all score the same) the highest-`quality` doc survives, id
    * tiebreak — keep the best-scored fetch of a duplicated page, not
    * the first-crawled one. One shuffle on the group key; the rank and
    * group size share one window partition. */
  def canonicalByQuality(docs: DataFrame, quality: Column,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    val part = Window.partitionBy(col("group_key"))
    docs
      .select(col(idCol),
        TextFns.fingerprint(col(textCol)).as("group_key"),
        quality.as("canonical_quality"))
      .withColumn("rk", row_number().over(
        part.orderBy(col("canonical_quality").desc, col(idCol))))
      .withColumn("n_dups", count(lit(1)).over(part))
      .filter(col("rk") === 1)
      .select(col("group_key"), col(idCol).as("canonical_id"),
        col("canonical_quality"), col("n_dups"))
  }

  /** Incremental dedup — the daily-crawl shape: drop batch docs whose
    * content (exact hash or token fingerprint) already exists in the
    * corpus, then dedup within the batch itself (min-id canonical).
    *
    * Scale path: the corpus side is only its fingerprint column, probed
    * with the batch-keyed Bloom filter map-side (no corpus shuffle, same
    * algebra as [[Writes.insertIgnoreBloom]]); the false-positive
    * candidates resolve exactly through a broadcast anti-join. A 100 TB
    * corpus contributes one column scan; everything keyed is O(batch).
    *
    * `corpusFingerprints` is one column `fingerprint` — persist it as a
    * compact side table (the "seen" index) and append each surviving
    * batch's prints to it downstream.
    *
    * `expectedItems` sizes the Bloom filter. PASS IT AT SCALE: when
    * absent, sizing falls back to `batch.count()` — an extra action over
    * the full batch lineage (which may itself be a derived frame). Any
    * upper bound works (the filter just over-allocates bits), so a
    * cheap estimate — rows-per-file × file count, the upstream source's
    * row count — beats the exact recount. */
  def incrementalByFingerprint(corpusFingerprints: DataFrame,
                               batch: DataFrame,
                               textCol: String = "text",
                               idCol: String = "doc_id",
                               fpp: Double = 1e-6,
                               expectedItems: Option[Long] = None)
      : DataFrame = {
    // xxhash64 is type-sensitive: a binary 'seen' index would hash to
    // different values than the batch's hex-string prints and silently
    // disable corpus dedup — fail loudly instead
    require(corpusFingerprints.schema("fingerprint").dataType ==
      org.apache.spark.sql.types.StringType,
      "corpusFingerprints.fingerprint must be StringType (the hex " +
        "form TextFns.fingerprint emits)")
    // sizing count on the raw batch unless supplied; an upper bound of
    // zero is an empty batch, which has no survivors (and over zero rows
    // stat.bloomFilter reads a null buffer and throws)
    val expected = expectedItems.getOrElse(batch.count())
    if (expected == 0) batch.limit(0)
    else {
      val printed = batch.withColumn("fingerprint",
        TextFns.fingerprint(col(textCol)))
      // bloom over the PRE-dedup prints (identical distinct-key set, no
      // window shuffle)
      val keyHash = xxhash64(col("fingerprint"))
      val bf = printed.stat.bloomFilter(keyHash, expected, fpp)
      // within-batch dedup (min id per fingerprint survives)
      val w = Window.partitionBy(col("fingerprint"))
      val batchCanonical = printed
        .withColumn("rk",
          row_number().over(w.orderBy(col(idCol))))
        .filter(col("rk") === 1).drop("rk")
      val seen = corpusFingerprints
        .filter(graft.plans.BloomFns.mightContain(
          xxhash64(col("fingerprint")), bf))
        .select(col("fingerprint"))
      batchCanonical
        .join(broadcast(seen), Seq("fingerprint"), "left_anti")
        .select(batch.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** MinHash signatures: `k` md5-seeded min-hashes over `n`-gram shingles.
    * Output: (idCol, sig_0 .. sig_{k-1}). Deterministic and
    * engine-portable (md5 hex min). The fused native expression computes
    * all k mins in one traversal; the two-step select keeps it evaluated
    * once per row (CollapseProject never inlines non-cheap expressions
    * into multiple consumers). */
  def minhashSignatures(docs: DataFrame, k: Int = 8, n: Int = 2,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), graft.plans.MinHashExpressions.minhashSigs(
        TextFns.shingles(col(textCol), n), k).as("_sigs"))
      .select(col(idCol) +:
        (0 until k).map(i => element_at(col("_sigs"), i + 1)
          .as(s"sig_$i")): _*)

  /** Band-bucket key: md5 over "|"-joined parts via null-PROPAGATING
    * concat. A doc with no shingles (null/empty/single-token text) has
    * null signatures; concat_ws would silently skip them and give every
    * such doc the same bucket in every band, clustering all degenerate
    * docs as mutual duplicates. Null buckets are filtered by callers —
    * degenerate docs are singletons, never candidates. */
  private def bandBucket(prefix: Column, sigs: Seq[Column]): Column =
    graft.plans.FastMd5.column(
      sigs.foldLeft(prefix)((acc, s) => concat(acc, lit("|"), s)))

  /** MinHash-LSH candidate pairs: signatures split into `bands` bands of
    * `k/bands` rows; docs sharing any band bucket become a candidate pair.
    * Pair generation is a self-join on the band key — shuffle by bucket,
    * no cross join. Returns (id_a, id_b, n_shared_bands), id_a < id_b. */
  def minhashLshPairs(docs: DataFrame, k: Int = 8, bands: Int = 4,
                      n: Int = 2, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    lshCandidates(minhashSignatures(docs, k, n, textCol, idCol),
      k, bands, idCol)

  /** The band-bucket candidate join over a signature frame — shared by
    * [[minhashLshPairs]] and [[containmentEstimatePairs]] so the
    * signatures compute once per caller. */
  private def lshCandidates(sigs: DataFrame, k: Int, bands: Int,
                            idCol: String): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val banded = sigs.select(col(idCol),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        bandBucket(lit(b.toString), (b * r until (b + 1) * r)
          .map(i => col(s"sig_$i"))).as("bucket"))): _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
      .filter(col("bucket").isNotNull)
    // explicit-parallelism exchange: the pair fan-out is quadratic in
    // bucket size while the pre-join input is tiny — without this AQE
    // coalesces the join to a few tasks (SkewTools.fanoutRepartition)
    val bandedMat = SkewTools.fanoutRepartition(banded,
      col("band"), col("bucket"))
    val a = bandedMat.select(col("band"), col("bucket"),
      col(idCol).as("id_a"))
    val b = bandedMat.select(col("band"), col("bucket"),
      col(idCol).as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Incremental MinHash-LSH dedup: probe a PERSISTED corpus signature
    * index with a new batch, flagging batch docs whose signature
    * agreement against any indexed doc reaches `minMatches` of `k` —
    * the maintenance form of [[minhashLshPairs]] (ingest a day's crawl
    * without re-banding the corpus), sibling of
    * [[incrementalByFingerprint]] (exact) and `IvfIndex.add` (ANN).
    *
    * `corpusSigs` is [[minhashSignatures]] output (`idCol`,
    * sig_0..sig_{k-1}) — the compact side table a pipeline persists and
    * appends each surviving batch's signatures to. Scale shape: the
    * index is scanned ONCE, collapsed to distinct signature vectors
    * with multiplicity (one narrow map-side-combined exchange), and
    * banded map-side; the banded distinct BATCH signatures are
    * broadcast (an ingest batch, not a second corpus — for corpus-sized
    * "batches" re-band the union with [[minhashLshPairs]] instead), so
    * the corpus never shuffles full rows and only bucket-collision
    * candidates — once per distinct content pair, copies multiplying
    * through counts — reach the pair aggregation. The verdict is
    * integer signature agreement (never a float Jaccard), so it is
    * exactly reproducible cross-engine (the q346 hash oracle).
    *
    * Returns one row per batch doc: (`idCol`, n_candidates, n_dups,
    * kept) with kept = 1 iff no indexed doc reached `minMatches`.
    * Shingle-less docs (null signatures) never band, on either side —
    * the [[bandBucket]] null discipline — so such batch docs come back
    * (0, 0, kept=1). */
  def incrementalLshDedup(corpusSigs: DataFrame, batch: DataFrame,
                          k: Int = 8, bands: Int = 4, n: Int = 2,
                          minMatches: Int = 6,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    require(minMatches >= 1 && minMatches <= k,
      s"minMatches must be in [1, $k], got $minMatches")
    val sigCols = (0 until k).map(i => s"sig_$i")
    (idCol +: sigCols).foreach { c =>
      require(corpusSigs.columns.contains(c),
        s"corpusSigs missing column $c — pass minhashSignatures(corpus, " +
          s"k = $k) output")
    }
    val r = k / bands
    // band-bucket explode carrying the full signature as one array
    // column: verification happens right at the bucket match, so the
    // corpus index is never re-joined by id (one pass total). The
    // band index needs no join key of its own — bandBucket md5-prefixes
    // it, so cross-band buckets cannot collide. BOTH sides collapse to
    // distinct signature VECTORS first (corpus with multiplicity,
    // batch as the verdict key): docs with identical signatures get
    // identical verdicts, so the bucket join runs once per distinct
    // content and copy mass on either side multiplies back through
    // counts instead of through join rows (the q358 512× lesson —
    // pre-collapse, the both-sides-inflated probe read 504-662 s).
    def bucketsOf(sigs: DataFrame): Column =
      explode(array((0 until bands).map(b =>
        bandBucket(lit(b.toString), (b * r until (b + 1) * r)
          .map(i => sigs(s"sig_$i")))): _*))
    val bsigs = minhashSignatures(batch, k, n, textCol, idCol)
      .localCheckpoint() // feeds both the probe and the output spine
    val cdist = corpusSigs.filter(col("sig_0").isNotNull)
      .groupBy(sigCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("_n"))
    val cb = cdist.select(array(sigCols.map(col): _*).as("_csig"),
        col("_n"), bucketsOf(cdist).as("bucket"))
      .filter(col("bucket").isNotNull)
    val bdist = bsigs.filter(col("sig_0").isNotNull)
      .select(sigCols.map(col): _*).distinct()
    // the batch side keeps sig_0..sig_{k-1} as plain columns through
    // to the verdict join: join keys re-extracted from an array let
    // Catalyst infer isnotnull(element_at(array(...), i)) filters that
    // whole-stage codegen cannot compile (janino "is not an rvalue")
    val bb = bdist.select(sigCols.map(col) :+ bucketsOf(bdist).as("bucket"): _*)
      .filter(col("bucket").isNotNull)
    val matches = (0 until k).map(i =>
        when(element_at(col("_csig"), i + 1) === col(s"sig_$i"), 1)
          .otherwise(0))
      .reduce(_ + _)
    val pairs = cb.join(broadcast(bb), Seq("bucket"))
      .select(sigCols.map(col) ++
        Seq(col("_csig"), col("_n"), matches.as("_m")): _*)
      // a pair sharing several bands repeats with the SAME agreement
      // and multiplicity — max() collapses the band fanout
      .groupBy(sigCols.map(col) :+ col("_csig"): _*)
      .agg(max(col("_n")).as("n"), max(col("_m")).as("m"))
    // verdicts fan back out over the spine by the signature columns
    // (null signatures never match — shingle-less docs read (0, 0, 1))
    val verdictCols = pairs.groupBy(sigCols.map(col): _*).agg(
      sum(col("n")).cast("long").as("n_candidates"),
      sum(when(col("m") >= minMatches, col("n")).otherwise(0L))
        .cast("long").as("n_dups"))
    bsigs.join(broadcast(verdictCols), sigCols, "left")
      .select(col(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        when(coalesce(col("n_dups"), lit(0L)) === 0, 1L).otherwise(0L)
          .as("kept"))
  }

  /** Near-dup GROUPS over any 64-bit fingerprint column: verified
    * banded-Hamming edges ([[hammingBandPairs]]) fed to the converged
    * min-label propagation ([[labelPropagate]]) — the component view
    * image/text fingerprint dedup deduplicates BY (keep one canonical
    * per group), with unmatched fingerprints as singletons. */
  def hammingDedupGroups(hashed: DataFrame, hashCol: String,
                         idCol: String, maxHamming: Int = 3,
                         maxBucket: Int = Int.MaxValue,
                         maxIterations: Int = 16,
                         smallCutoff: Long = defaultSmallCutoff)
      : DataFrame = {
    val edges = hammingBandPairs(hashed, hashCol, idCol, maxHamming,
      maxBucket)
    labelPropagate(hashed.select(col(idCol).as("id")), edges,
        maxIterations, smallCutoff)
      .select(col("id").as(idCol), col("canonical"))
  }

  /** Containment ESTIMATE pairs — the LSH scale path of
    * [[containmentPairs]] (the q76/q76b strategy split applied to
    * containment): candidates from the banded signature join, then
    * containment estimated from signature agreement + EXACT set
    * sizes with zero posting-list work. With Ĵ = matches/k,
    * |A∪B| = (|A|+|B|)/(1+Ĵ) and |A∩B| = Ĵ·|A∪B| give
    * Ĉ(a→b) = matches·(|A|+|B|) / ((k+matches)·|A|) — all-integer, so
    * the estimate is EXACTLY reproducible cross-engine (q133 hash
    * oracle) even though it is statistically approximate. Shuffles:
    * the band join (bounded buckets, explicit parallelism) and three
    * id-keyed joins — never a posting-list fan-out, so a hot shingle
    * cannot blow it up (the q121 `maxDf` trade disappears instead of
    * being capped). */
  def containmentEstimatePairs(docs: DataFrame, k: Int = 8,
                               bands: Int = 4, n: Int = 2,
                               threshold: Double = 0.8,
                               textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame = {
    val sigs = minhashSignatures(docs, k, n, textCol, idCol)
    val cand = lshCandidates(sigs, k, bands, idCol)
      .select(col("id_a"), col("id_b"))
    val sizes = docs.select(col(idCol),
      size(TextFns.shingles(col(textCol), n)).cast("long").as("sz"))
    val sigA = sigs.select(col(idCol).as("id_a") +:
      (0 until k).map(i => col(s"sig_$i").as(s"_a$i")): _*)
    val sigB = sigs.select(col(idCol).as("id_b") +:
      (0 until k).map(i => col(s"sig_$i").as(s"_b$i")): _*)
    val matches = (0 until k).map(i =>
      when(col(s"_a$i") === col(s"_b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand
      .join(sigA, Seq("id_a")).join(sigB, Seq("id_b"))
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sa")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sb")),
        Seq("id_b"))
      .withColumn("matches", matches)
      .withColumn("cont_a_est", graft.functions.ExactRound.ratio(
        col("matches") * (col("sa") + col("sb")),
        (lit(k.toLong) + col("matches")) * col("sa"), 6))
      .withColumn("cont_b_est", graft.functions.ExactRound.ratio(
        col("matches") * (col("sa") + col("sb")),
        (lit(k.toLong) + col("matches")) * col("sb"), 6))
    est.filter(greatest(col("cont_a_est"), col("cont_b_est"))
        >= threshold)
      .select(col("id_a"), col("id_b"), col("matches"),
        col("cont_a_est"), col("cont_b_est"))
  }

  /** MinHash-LSH dedup as linear cluster LABELING: each doc maps to a
    * canonical id (the min id of its connected component in the shared-
    * band-bucket graph).
    *
    * Scale rationale (measured): enumerating candidate PAIRS is
    * quadratic in duplicate-cluster size — a corpus where each doc has
    * 32 copies produced millions of true pairs and 160 s of runtime at
    * 160k docs, while labeling stays linear. The bucket graph enters
    * [[labelPropagate]] as STAR edges — each banded doc links to its
    * bucket's minimum id, one edge per banded row instead of a
    * bucket's all-pairs — so components (and their min-id labels) are
    * the shared-bucket graph's, with its converged loop, pointer jump
    * and small-graph union-find fast path (`maxIterations`,
    * `smallCutoff`). Ids come from the signature frame, so a doc with
    * no band bucket (null signatures: null, empty or single-token
    * text) labels itself. */
  def minhashDedupGroups(docs: DataFrame, k: Int = 8, bands: Int = 4,
                         n: Int = 2, maxIterations: Int = 16,
                         textCol: String = "text",
                         idCol: String = "doc_id",
                         smallCutoff: Long = defaultSmallCutoff)
      : DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val sigs = minhashSignatures(docs, k, n, textCol, idCol)
    // null buckets (shingle-less docs) never band. banded feeds both
    // halves of labelPropagate's symmetric edge list: materialize once
    // instead of re-running the minhash scan
    val banded = sigs.select(col(idCol).as("id"),
      explode(array((0 until bands).map(b =>
        bandBucket(lit(b.toString), (b * r until (b + 1) * r)
          .map(i => col(s"sig_$i")))): _*)).as("bucket"))
      .filter(col("bucket").isNotNull)
      .localCheckpoint()
    val edges = banded
      .withColumn("id_a", min(col("id")).over(
        Window.partitionBy(col("bucket"))))
      .where(col("id_a") =!= col("id"))
      .select(col("id_a"), col("id").as("id_b"))
    // labelPropagate materializes its edge list before returning
    val labels = labelPropagate(sigs.select(col(idCol).as("id")), edges,
      maxIterations, smallCutoff)
    graft.Staging.release(banded, blocking = false)
    labels.select(col("id").as(idCol), col("canonical"))
  }

  /** Changed-label count between consecutive propagation rounds — the
    * convergence test. Both sides are localCheckpoint-materialized by
    * the callers, so this action re-reads the cached label frames, not
    * their upstream lineage. */
  private def labelsChanged(next: DataFrame, prev: DataFrame): Long =
    next.as("n").join(prev.as("o"), col("n.id") === col("o.id"))
      .filter(!(col("n.canonical") <=> col("o.canonical"))).count()

  /** Pointer jump (path doubling): canonical ← canonical(canonical),
    * composing the label map with itself. Neighbor-min alone moves a
    * label ONE hop per round, so a duplicate CHAIN (doc i near-dups
    * doc i+1 — exactly what sliding crawls produce) needs O(diameter)
    * rounds; with the jump each round doubles the distance already
    * covered, giving O(log diameter) rounds — the standard MapReduce
    * connected-components trick (Kiveris et al., "Connected Components
    * in MapReduce and Beyond"). One extra shuffle join per round,
    * exponentially fewer rounds. */
  private def pointerJump(l: DataFrame): DataFrame = {
    val m = l.select(col("id").as("_mid"), col("canonical").as("_mcan"))
    l.join(m, l("canonical") === m("_mid"), "left")
      .select(l("id"),
        coalesce(col("_mcan"), l("canonical")).as("canonical"))
  }

  /** n-gram Jaccard similarity for all pairs sharing ≥1 surviving
    * shingle, via inverted index (explode shingles → self-join on
    * shingle → co-occurrence counts). Returns pairs with jaccard ≥
    * threshold. This is the verification stage LSH candidates feed at
    * scale.
    *
    * `maxDf` caps posting-list length (standard inverted-index
    * practice): shingles appearing in more than `maxDf` docs are
    * dropped BEFORE the self-join. A corpus-frequent shingle ("of the",
    * site boilerplate) has a posting list of length f and contributes
    * f² join rows within that shingle — quadratic hot-key blowup at
    * corpus scale — while carrying no near-dup discrimination.
    * Surviving pairs count `inter`/`jaccard` over surviving shingles
    * only (denominators keep the FULL set sizes), so capped scores are
    * a slight underestimate for pairs that shared capped shingles; a
    * capped shingle can only remove candidate pairs that rarer shingles
    * still generate. The q34 oracle mirrors the cap. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 2, threshold: Double = 0.5,
                        maxDf: Int = 1000,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val withSets = docs.select(col(idCol),
      TextFns.shingles(col(textCol), n).as("sh"))
      .withColumn("set_size", size(col("sh")))
    // document frequency via one window over the shingle key — the same
    // exchange the self-join below shuffles on, so the filter costs a
    // sort within already-shuffled partitions, not an extra shuffle
    val inverted = withSets
      .select(col(idCol), col("set_size"), explode(col("sh")).as("shingle"))
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("shingle"))))
      .filter(col("df") <= maxDf)
      .drop("df")
    // explicit-parallelism exchange before the quadratic posting-list
    // join (see SkewTools.fanoutRepartition); the window above already
    // shuffled by shingle, so this re-pins the SAME partitioning with
    // a user count AQE cannot coalesce
    val invertedMat = SkewTools.fanoutRepartition(inverted, col("shingle"))
    val a = invertedMat.select(col("shingle"), col(idCol).as("id_a"),
      col("set_size").as("size_a"))
    val b = invertedMat.select(col("shingle"), col(idCol).as("id_b"),
      col("set_size").as("size_b"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("size_a"), col("size_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", graft.functions.ExactRound.ratio(
        col("inter"), col("size_a") + col("size_b") - col("inter"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
  }

  /** Directed shingle-containment near-dup pairs: C(a→b) =
    * |A∩B| / |A| — the asymmetric complement of [[ngramJaccardPairs]]
    * (Jaccard misses subset duplication: a doc fully embedded in a 10×
    * larger one has Jaccard ≈ 0.1 but containment 1.0 — the
    * quote-expansion / page-concatenation dup class). One row per
    * unordered pair carrying BOTH directions, kept when either side's
    * containment clears `threshold`.
    *
    * Scale shape is identical to [[ngramJaccardPairs]] — posting-list
    * self-join on the shingle key with the `maxDf` hot-shingle cap
    * (df computed in the same exchange the join shuffles on) and the
    * explicit-parallelism pin before the quadratic join. Ratios in
    * exact integer arithmetic (half-up, 6dp) so the DuckDB oracle
    * (q121) reproduces them bit-for-bit. */
  def containmentPairs(docs: DataFrame, n: Int = 2,
                       threshold: Double = 0.8, maxDf: Int = 1000,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val withSets = docs.select(col(idCol),
      TextFns.shingles(col(textCol), n).as("sh"))
      .withColumn("set_size", size(col("sh")))
      .filter(col("set_size") > 0)
    val inverted = withSets
      .select(col(idCol), col("set_size"), explode(col("sh")).as("shingle"))
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("shingle"))))
      .filter(col("df") <= maxDf)
      .drop("df")
    val invertedMat = SkewTools.fanoutRepartition(inverted, col("shingle"))
    val a = invertedMat.select(col("shingle"), col(idCol).as("id_a"),
      col("set_size").as("size_a"))
    val b = invertedMat.select(col("shingle"), col(idCol).as("id_b"),
      col("set_size").as("size_b"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("size_a"), col("size_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("cont_a_in_b", graft.functions.ExactRound.ratio(
        col("inter"), col("size_a"), 6))
      .withColumn("cont_b_in_a", graft.functions.ExactRound.ratio(
        col("inter"), col("size_b"), 6))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a"))
        >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"),
        col("cont_a_in_b"), col("cont_b_in_a"))
  }

  /** SimHash near-dup clusters: 64-bit simhash, pairs within `maxHamming`
    * found by 4×16-bit band bucketing (two docs within Hamming ≤3 of each
    * other share at least one exact 16-bit band — pigeonhole). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
    hammingBandPairs(docs.select(col(idCol),
      TextFns.simhash64(col(textCol)).as("simhash")),
      "simhash", idCol, maxHamming)

  /** Banded-Hamming candidate join over ANY 64-bit fingerprint column
    * (SimHash text prints, pHash image prints): 4×16-bit pigeonhole
    * banding, exact Hamming verification within buckets. The shared
    * core [[simhashPairs]] and [[graft.operators.Multimodal]]'s image
    * pipeline both ride.
    *
    * Scale guards, same pair as [[ngramJaccardPairs]]: the
    * explicit-parallelism pin before the quadratic bucket join (AQE
    * sees the small banded input, not the pair fan-out), and an
    * optional `maxBucket` cap — a bucket holding b fingerprints emits
    * b² candidate rows, so one degenerate value (an all-identical
    * boilerplate image/template) turns the join cartesian; capped
    * buckets drop out like capped postings (dedup of a value that
    * common belongs to the GROUP path, not pair enumeration). The
    * default keeps every bucket — q38/q131 semantics unchanged. */
  def hammingBandPairs(hashed: DataFrame, hashCol: String,
                       idCol: String, maxHamming: Int,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    val banded0 = hashed.select(col(idCol), col(hashCol),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col(hashCol), b * 16).bitwiseAND(lit(0xFFFFL))
          .as("bucket"))): _*)).as("bb"))
      .select(col(idCol), col(hashCol), col("bb.band"), col("bb.bucket"))
    val banded =
      if (maxBucket == Int.MaxValue) banded0
      else banded0.withColumn("_df", count(lit(1)).over(
          Window.partitionBy(col("band"), col("bucket"))))
        .filter(col("_df") <= maxBucket).drop("_df")
    val bandedMat = SkewTools.fanoutRepartition(banded,
      col("band"), col("bucket"))
    val a = bandedMat.select(col("band"), col("bucket"),
      col(idCol).as("id_a"), col(hashCol).as("sim_a"))
    val b = bandedMat.select(col("band"), col("bucket"),
      col(idCol).as("id_b"), col(hashCol).as("sim_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        TextFns.hamming64(col("sim_a"), col("sim_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental SimHash dedup: probe a PERSISTED corpus fingerprint
    * table with a new batch, flagging batch docs within `maxHamming`
    * of any indexed print — the 64-bit-fingerprint member of the
    * incremental family ([[incrementalByFingerprint]] exact,
    * [[incrementalLshDedup]] MinHash, `SemDedup.incrementalSemDedup`
    * embedding), completing it for the SimHash flavor
    * ([[simhashPairs]] is its rebuild form).
    *
    * `corpusHashes` is (`idCol`, `simhash` int64) — the compact side
    * table a pipeline persists and appends each surviving batch's
    * prints to. Scale shape: the index is first collapsed to DISTINCT
    * prints with multiplicity (one map-side-combined hash aggregation
    * whose exchange carries only (print, count) — identical prints are
    * interchangeable for a Hamming verdict, and exact-copy mass is
    * precisely what a dedup index accumulates, so without this the
    * bucket join fans out per COPY: measured 373 s pre-collapse vs
    * 12.4 s with it at the 32×-copy ScaleCheck, against a 509 s
    * full rebuild), then banded map-side (4×16-bit pigeonhole —
    * two prints within Hamming ≤ 3 share at least one exact 16-bit
    * band) and probed by the BROADCAST banded batch; only
    * bucket-collision candidates reach the exact Hamming
    * verification, and candidate counts multiply back through the
    * stored multiplicities. The verdict is integer bit algebra
    * (bit_count of xor), exactly reproducible cross-engine (q358).
    *
    * Returns one row per batch doc: (`idCol`, n_candidates, n_dups,
    * kept) with kept = 1 iff no indexed print is within `maxHamming`
    * (candidates/dups count INDEX ROWS, copies included). Null prints
    * (null text) never band on either side, so such batch docs come
    * back (0, 0, kept=1) — the [[bandBucket]] discipline. */
  def incrementalSimhashDedup(corpusHashes: DataFrame, batch: DataFrame,
                              maxHamming: Int = 3,
                              textCol: String = "text",
                              idCol: String = "doc_id"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] — 4×16-bit banding only " +
        s"guarantees a shared band up to Hamming 3 (got $maxHamming)")
    require(corpusHashes.columns.contains("simhash"),
      "corpusHashes needs a 'simhash' column — pass the persisted " +
        "(id, simhash) side table (TextFns.simhash64 output)")
    val bh = batch.select(col(idCol),
        TextFns.simhash64(col(textCol)).as("simhash"))
      .localCheckpoint() // feeds both the probe and the output spine
    def bands(h: Column): Column =
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(h, b * 16).bitwiseAND(lit(0xFFFFL))
          .as("bucket"))): _*))
    // distinct prints + multiplicity, THEN band — the exchange is
    // (print, count)-narrow and map-side combined
    val cd = corpusHashes.filter(col("simhash").isNotNull)
      .groupBy(col("simhash").as("_ch"))
      .agg(count(lit(1)).cast("long").as("_n"))
      .select(col("_ch"), col("_n"), bands(col("_ch")).as("bb"))
      .select(col("_ch"), col("_n"), col("bb.band"), col("bb.bucket"))
    // the BATCH side collapses to distinct prints too: docs with the
    // same print get the same verdict, so the bucket join runs once
    // per distinct content and verdicts fan back out over the spine —
    // without this, a copy-heavy batch pays the join per copy (the
    // 512× crossover's both-sides-inflated shape read 792-885 s
    // pre-collapse)
    val bd = bh.filter(col("simhash").isNotNull)
      .select(col("simhash").as("_bh")).distinct()
      .select(col("_bh"), bands(col("_bh")).as("bb"))
      .select(col("_bh"), col("bb.band"), col("bb.bucket"))
    // a (print, print) pair sharing several bands repeats with the
    // SAME distance and multiplicity — max() collapses the band fanout
    val pairs = cd.join(broadcast(bd), Seq("band", "bucket"))
      .select(col("_bh"), col("_ch"), col("_n"),
        TextFns.hamming64(col("_ch"), col("_bh")).as("_hd"))
      .groupBy(col("_bh"), col("_ch"))
      .agg(max(col("_n")).as("n"), min(col("_hd")).as("hd"))
    val perPrint = pairs.groupBy(col("_bh")).agg(
      sum(col("n")).cast("long").as("n_candidates"),
      sum(when(col("hd") <= maxHamming, col("n")).otherwise(0L))
        .cast("long").as("n_dups"))
    bh.join(broadcast(perPrint.withColumnRenamed("_bh", "simhash")),
        Seq("simhash"), "left")
      .select(col(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        when(coalesce(col("n_dups"), lit(0L)) === 0, 1L).otherwise(0L)
          .as("kept"))
  }

  /** C4-style chunk-level duplication stats: each doc is cut into
    * consecutive non-overlapping `chunkTokens`-token chunks; a chunk is
    * a duplicate if the identical chunk appeared earlier in corpus
    * order (doc_id, then position). Returns per-doc chunk counts and
    * the duplicated fraction — the signal span-level dedup filters on.
    * One shuffle by chunk (first-occurrence window), one by doc
    * (re-aggregate); chunking itself is a map-side projection, so the
    * whole operator is linear in corpus tokens. */
  def chunkDupStats(docs: DataFrame, chunkTokens: Int = 20,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val chunks = docs
      .select(col(idCol), TextFns.tokens(col(textCol)).as("w"))
      .select(col(idCol), posexplode(expr(
        s"""transform(
              sequence(0, cast(ceil(size(w) / ${chunkTokens}.0) as int) - 1),
              i -> concat_ws(' ', slice(w, i * $chunkTokens + 1, $chunkTokens)))"""))
        .as(Seq("chunk_idx", "chunk")))
    val firstSeen = Window.partitionBy(col("chunk"))
      .orderBy(col(idCol), col("chunk_idx"))
    chunks
      .withColumn("rn", row_number().over(firstSeen))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_dup_chunks"))
      .withColumn("dup_ratio", graft.functions.ExactRound.ratio(
        col("n_dup_chunks"), col("n_chunks"), 6))
  }

  /** Min-label propagation over an explicit (id_a, id_b) edge list,
    * iterated UNTIL CONVERGED: every node repeatedly adopts the
    * smallest label in its closed neighborhood, so at the fixpoint each
    * node carries its connected component's minimum id — regardless of
    * component diameter (a fixed round count under-merges any chain
    * longer than its hop budget, silently). Each round is a
    * neighbor-min (one shuffle join + aggregation) composed with a
    * pointer jump ([[pointerJump]] — path doubling, so rounds are
    * O(log diameter), not O(diameter)) plus one changed-label count —
    * linear in edges, never materializing a component; label frames are
    * localCheckpoint-materialized per round so the iterative lineage
    * never deepens. */
  def labelPropagate(ids: DataFrame, edges: DataFrame,
                     maxIterations: Int = 16,
                     smallCutoff: Long = defaultSmallCutoff): DataFrame = {
    val sym = edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges
        .select(col("id_b").as("src"), col("id_a").as("dst")))
      // materialize the edge list once: every round is its own action,
      // and re-deriving edges per round would re-run the (possibly
      // all-pairs) pair generator each time
      .localCheckpoint()
    // small-graph fast path: the edge list is already materialized, so
    // sizing it is one cheap count. Under the cutoff (a batch-sized
    // graph — the incremental-ingest case, where the iterative loop's
    // ~4 jobs/round of fixed scheduling overhead dominate a few hundred
    // docs), collect the edges and run exact union-find on the driver:
    // the same component-min labels in ONE roundtrip instead of
    // O(log diameter) shuffle rounds. Precondition shared with the
    // distributed loop: edge endpoints are drawn from `ids` (a foreign
    // endpoint is ignored by the loop but unioned through here — no
    // caller constructs one). The exact path subsumes `maxIterations`;
    // pass smallCutoff = 0 to pin the distributed loop (as the
    // truncation spec does).
    if (smallCutoff > 0 && sym.count() <= smallCutoff &&
        sym.schema("src").dataType ==
          org.apache.spark.sql.types.LongType) {
      val pairs = sym.collect().iterator
        .map(r => (r.getLong(0), r.getLong(1)))
      val lbl = unionFindMinLabels(pairs)
      graft.Staging.release(sym, blocking = false)
      val spark = ids.sparkSession
      import spark.implicits._
      val lblDf = lbl.toSeq.toDF("id", "canonical")
      return ids.select(col("id"))
        .join(broadcast(lblDf), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("canonical"), col("id")).as("canonical"))
    }
    var labels = ids.select(col("id"), col("id").as("canonical"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val nbrMin = sym.join(labels, sym("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("canonical")).as("nbr"))
      val hop = labels.join(nbrMin, labels("id") === nbrMin("dst"), "left")
        .select(labels("id"),
          least(col("canonical"), coalesce(col("nbr"), col("canonical")))
            .as("canonical"))
      val next = pointerJump(hop).localCheckpoint()
      converged = labelsChanged(next, labels) == 0
      // drop the superseded round's blocks now (only after the
      // convergence count read them): left to driver GC and the
      // ContextCleaner, a deep component pins O(rounds) label copies
      // and the loop can evict its own working set
      graft.Staging.release(labels, blocking = false)
      labels = next
      iter += 1
    }
    graft.Staging.release(sym, blocking = false)
    labels
  }

  /** Bound on the symmetric edge rows under which [[labelPropagate]]
    * switches to exact driver-side union-find. 500k (id, id) rows ≈
    * tens of MB on the driver — trivially safe — while a corpus-sized
    * rebuild (e.g. the 32× ScaleCheck's 160k docs × 4 bands = 640k
    * banded rows, over a million symmetric star edges) stays on the
    * distributed loop. Both paths produce the identical
    * component-min labels (spec-pinned); the cutoff trades one driver
    * roundtrip against ~4 jobs × O(log diameter) rounds of scheduling
    * overhead, which dominate batch-sized graphs. */
  val defaultSmallCutoff: Long = 500000L

  /** Exact union-find (path compression + min-root union) over an edge
    * stream: because union always attaches the larger root beneath the
    * smaller, every root IS its component's minimum id, so the result
    * maps each seen id to exactly the label the converged distributed
    * propagation assigns it. */
  private def unionFindMinLabels(
      pairs: Iterator[(Long, Long)]): collection.Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def add(x: Long): Unit =
      if (!parent.contains(x)) parent(x) = x
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** Embedding near-dup GROUPS: connected components of the cosine
    * pair graph, as linear cluster labels (one canonical id per
    * vector — the output shape dedup needs; see minhashDedupGroups for
    * why pair enumeration doesn't scale).
    *
    * `strategy` is REQUIRED — there is no default, so a caller cannot
    * silently fall into the all-pairs edge generator at corpus scale:
    *  - "lsh": bucketed candidate edges ([[Similarity.cosineSelfPairs]])
    *    — the 100 TB path; recall is governed by the band parameters.
    *  - "exact": brute-force O(n²) edges — the oracle/test twin, only
    *    for corpora where all-pairs fits. */
  def embeddingNearDupGroups(embeddings: DataFrame, strategy: String,
                             threshold: Double = 0.95,
                             maxIterations: Int = 16,
                             vecCol: String = "embedding",
                             idCol: String = "vec_id"): DataFrame = {
    val edges = strategy match {
      case "lsh" => Similarity.cosineSelfPairs(embeddings, threshold,
        vecCol = vecCol, idCol = idCol)
      case "exact" => Similarity.bruteForceSelfPairs(embeddings, threshold,
        vecCol = vecCol, idCol = idCol)
      case other => throw new IllegalArgumentException(
        "embeddingNearDupGroups strategy must be 'lsh' (scale path) or " +
          s"'exact' (all-pairs oracle twin), got '$other'")
    }
    labelPropagate(embeddings.select(col(idCol).as("id")),
      edges.select("id_a", "id_b"), maxIterations)
      .select(col("id").as(idCol), col("canonical"))
  }

  /** Token-accounting ledger for corpus-wide exact (fingerprint)
    * dedup: keep-first-by-id inside each fingerprint group, then per
    * SOURCE report docs/tokens kept vs dropped — the "what does dedup
    * buy us, and whose data pays for it" number (q125 counts dup DOCS
    * within a source; this prices dup TOKENS corpus-wide and bills
    * the dropped doc's source). One window over the fingerprint key +
    * one per-source rollup; all-integer + bridge ratio. */
  def dedupSavings(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id",
                   sourceCol: String = "source"): DataFrame = {
    val f = docs.select(col(idCol), col(sourceCol),
      graft.functions.TextFns.tokenCount(col(textCol)).cast("long")
        .as("n_tok"),
      graft.functions.TextFns.fingerprint(col(textCol)).as("fp"))
    val keep = min(col(idCol)).over(Window.partitionBy(col("fp")))
    f.withColumn("dropped", (col(idCol) =!= keep).cast("long"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dropped")).cast("long").as("n_dropped"),
        sum(col("n_tok")).cast("long").as("tokens_total"),
        sum(col("n_tok") * col("dropped")).cast("long")
          .as("tokens_dropped"))
      .select(col(sourceCol), col("n_docs"), col("n_dropped"),
        col("tokens_total"), col("tokens_dropped"),
        graft.functions.ExactRound.ratio(col("tokens_dropped"),
          greatest(col("tokens_total"), lit(1L)), 4).as("savings"))
  }

  /** Train/val/test split-leakage audit: the exact near-dup pairs
    * ([[ngramJaccardPairs]] semantics) bucketed by the SPLIT sides of
    * their endpoints — a near-duplicate that crosses train→test is
    * silent evaluation contamination. Output is the (split, split)
    * matrix (sides ordered lexicographically so the pair key is
    * canonical) with a row per combination. Costs one near-dup pass +
    * a map-side split assignment. */
  def splitLeakage(docs: DataFrame, n: Int = 1, threshold: Double = 0.6,
                   maxDf: Int = 1000): DataFrame = {
    val pairs = ngramJaccardPairs(docs, n, threshold, maxDf)
      .select(col("id_a"), col("id_b"))
    val withSplits = pairs
      .withColumn("sa", Sampling.assignSplit(col("id_a")))
      .withColumn("sb", Sampling.assignSplit(col("id_b")))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
    withSplits.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
  }

  /** Leakage-FREE i.i.d. splitting — the constructive fix for what
    * [[splitLeakage]] measures: split at near-dup GROUP granularity,
    * every member of a [[minhashDedupGroups]] component inheriting its
    * canonical id's md5 split, so a duplicate pair can never straddle
    * train/test (per-doc hashing leaks ~offDiagonal mass; group
    * hashing leaks zero by construction). Costs the group labeling +
    * a map-side split expression. Output: (idCol, canonical, split). */
  def groupAwareSplit(docs: DataFrame, k: Int = 8, bands: Int = 4,
                      n: Int = 2, trainPct: Int = 80, valPct: Int = 10,
                      maxIterations: Int = 16,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    minhashDedupGroups(docs, k, bands, n, maxIterations, textCol, idCol)
      .withColumn("split",
        Sampling.assignSplit(col("canonical"), trainPct, valPct))

  /** Self-audit of the MinHash-LSH approximation against the exact
    * n-gram Jaccard ground truth ON THE SAME corpus: candidate-pair
    * precision (fraction of LSH candidates that truly clear
    * `threshold`) and recall (fraction of true pairs LSH surfaces) —
    * the measurement that justifies shipping the banded path at scale
    * instead of the quadratic one. Runs both pipelines (this is an
    * audit, not a production stage) plus one pair-key join; the three
    * counts fold to a single row, ratios through the exact bridge.
    * Exact side uses [[ngramJaccardPairs]]'s capped-posting semantics
    * (`maxDf`), i.e. the same ground truth q34 pins. */
  def lshQuality(docs: DataFrame, k: Int = 8, bands: Int = 4,
                 n: Int = 1, threshold: Double = 0.6,
                 maxDf: Int = 1000): DataFrame = {
    val lsh = minhashLshPairs(docs, k, bands, n)
      .select(col("id_a"), col("id_b"))
    val exact = ngramJaccardPairs(docs, n, threshold, maxDf)
      .select(col("id_a"), col("id_b"))
    lsh.agg(count(lit(1)).as("n_lsh"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .crossJoin(lsh.join(exact, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_hits")))
      .select(col("n_lsh"), col("n_exact"), col("n_hits"),
        graft.functions.ExactRound.ratio(col("n_hits"),
          greatest(col("n_lsh"), lit(1L)), 4).as("lsh_precision"),
        graft.functions.ExactRound.ratio(col("n_hits"),
          greatest(col("n_exact"), lit(1L)), 4).as("lsh_recall"))
  }
}
