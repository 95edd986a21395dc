package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over embedding columns.
  *
  * Baseline: brute-force cosine top-k (exact). Scale paths: (a) two-phase
  * top-k — per-partition partial top-k then global merge, so no single
  * reducer sees the whole corpus; (b) random-hyperplane LSH bucketing so
  * self-join pair generation shuffles by bucket instead of crossing n².
  *
  * All vector math is `zip_with`/`aggregate` higher-order expressions over
  * `array<double>` — codegen'd, no UDFs. Embedding floats are cast to
  * double up front so results are reproducible against a double-precision
  * oracle.
  */
object Similarity {

  /** Left-to-right dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, rounded to 4dp for cross-engine determinism.
    * Uses the fused native kernel (graft.plans.CosineSimilarity) — one
    * codegen'd loop per row instead of three higher-order-function
    * passes; identical accumulation order, so results are bit-equal to
    * the `dot/nullif(norm*norm,0)` formulation. */
  def cosine(a: Column, b: Column): Column =
    round(graft.plans.VectorExpressions.cosineSim(a, b), 4)

  /** Numeric array → array<double> via the codegen'd kernel — value-
    * identical to `transform(c, _.cast("double"))`, minus the
    * per-element interpreted lambda (graft.plans.ToDoubleArray). */
  def asDouble(c: Column): Column =
    graft.plans.VectorExpressions.toDoubleArray(c)

  /** The predicate `round(cosine(a,b),4) >= tau`, bit-identical but
    * cheap on the miss path: HALF_UP 4dp rounding moves a value by at
    * most 5e-5, so `raw >= tau - 1e-4` is a strict superset guard —
    * the BigDecimal rounding (the HOT instruction of a threshold pair
    * join; it outweighs the 64-flop cosine itself) runs only for the
    * tiny near/above-threshold fraction. Use when the rounded value is
    * NOT part of the output (filters); scored outputs still pay
    * [[cosine]] once per emitted row. */
  def cosineAtLeast(a: Column, b: Column, tau: Double): Column = {
    val raw = graft.plans.VectorExpressions.cosineSim(a, b)
    (raw >= lit(tau - 1e-4)) && (round(raw, 4) >= lit(tau))
  }

  /** Symmetric int8 quantization for embedding storage: per-vector
    * scale = max|v|/127, code qᵢ = round(vᵢ/scale) ∈ [-127,127] — 4×
    * smaller than float32 (the standard embedding-lake storage trade;
    * reconstruction error ≤ scale/2 per element). Cosine is invariant
    * to the positive per-vector scale, so similarity search runs
    * DIRECTLY on the integer codes (see [[cosine]] over the codes) —
    * quantization costs accuracy (≲2/127 per element), not an extra
    * dequantization pass. Pure map, deterministic, engine-portable
    * (identical IEEE division + half-away rounding both engines).
    * Zero vectors get scale 0 and all-zero codes. */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    // fused native kernel (graft.plans.Int8Quantize): one generated
    // loop per row instead of interpreted array_max/transform/round
    // HOF chains (measured 19 s → ~1 s for 64k×64 at 32×);
    // value-identical BigDecimal HALF_UP rounding, so q90/q92 oracles
    // are unchanged
    val q = graft.plans.PqExpressions.int8Quantize(asDouble(col(vecCol)))
    df.select(col(idCol), q.as("_q"))
      .select(col(idCol), col("_q.scale").as("scale"),
        col("_q.qvec").as("qvec"))
  }

  /** Per-vector int8 dequantization distortion — [[quantizeInt8]]'s
    * storage-error readout and the int8 twin of
    * [[ProductQuantizer.reconstructionError]]: dequantize the codes
    * through the STORED 6dp scale and report the 4dp L2 against the
    * original. Pure map + one id join; the distance recompute is
    * per-row independent reporting (the allowed oracle class), and
    * the quantization algebra itself is the hash-anchored q90 replay. */
  def int8Distortion(embeddings: DataFrame,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val qz = quantizeInt8(embeddings, vecCol, idCol)
    embeddings.select(col(idCol), asDouble(col(vecCol)).as("_v"))
      .join(qz, Seq(idCol))
      .select(col(idCol),
        round(sqrt(ProductQuantizer.sqDist(col("_v"),
          transform(col("qvec"), q => q.cast("double") * col("scale")))),
          4).as("l2_distortion"))
  }

  /** Seeded ±1 sign matrix (`outDim` rows × `dim`) for the sparse
    * Johnson-Lindenstrauss projection (Achlioptas 2003: ±1 entries
    * preserve pairwise distances like Gaussian ones, and make the
    * projection a sign-flip sum — no multiplies, and an oracle can
    * replay it with literal signs). */
  def jlSigns(outDim: Int, dim: Int, seed: Long = 42L): Seq[Seq[Int]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(outDim)(Seq.fill(dim)(if (rng.nextBoolean()) 1 else -1))
  }

  /** Johnson-Lindenstrauss random projection of `vecCol` to `outDim`
    * dimensions: component j = dot(vec, signs_j) / sqrt(outDim),
    * emitted as SCALAR columns `rp_00..` (tabular consumers sort/hash
    * on columns — the q67 lesson). Pure map, no shuffle; distances are
    * preserved within the JL distortion bound, so downstream ANN
    * (bucketing, kNN re-rank) runs on 4× fewer bytes at 100 TB.
    *
    * Determinism: each term is ±vᵢ (sign flips are exact in IEEE), and
    * both this implementation (left fold over the zipped arrays) and
    * the generated oracle (explicit left-associated sum) add terms in
    * index order — bit-equal before the 4dp round. */
  def randomProject(df: DataFrame, outDim: Int = 16, dim: Int = 64,
                    seed: Long = 42L, vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    val signs = jlSigns(outDim, dim, seed)
    val scale = math.sqrt(outDim.toDouble)
    // The assert_true guard fails LOUDLY on a dim mismatch — the kernel
    // (like zip_with before it) would otherwise silently truncate to
    // the common prefix (assert_true yields null on success, so the
    // when() wrapper keeps it in the plan unpruned).
    val checked = when(
      assert_true(size(asDouble(col(vecCol))) === dim,
        lit(s"randomProject: dim=$dim but '$vecCol' has a different " +
          "length")).isNull,
      asDouble(col(vecCol)))
    // all components in ONE native traversal (the HOF-per-component
    // formulation measured ~3× slower than native cosine at 32 comps —
    // see SignedProject scaladoc), bound so the kernel runs once per
    // row; the scalar columns then just index the bound array
    val signsFlat = signs.flatten.map(_.toByte).toArray
    val projected = df.select(col(idCol),
      graft.plans.VectorExpressions
        .signedProject(checked, signsFlat, dim).as("_p"))
    val comps = (0 until outDim).map { j =>
      round(element_at(col("_p"), j + 1) / scale, 4).as(f"rp_$j%02d")
    }
    projected.select((col(idCol) +: comps): _*)
  }

  /** Empirical Johnson-Lindenstrauss distortion report: for every pair
    * within the bounded audit sample (`idCol` < `sampleIds`), the
    * projected-vs-original L2 distance ratio — the measured (1±ε)
    * envelope that justifies running downstream ANN on the 4×-smaller
    * [[randomProject]] output, completing the dimensionality-reduction
    * error story the way PQ/int8 distortion (q354/q355) does for
    * quantization. A REPORTING operator (per-pair independent — a
    * last-ulp wobble perturbs one cell, it cannot cascade), run on an
    * audit sample, not the corpus: the pair join is O(sample²) by
    * construction and the sample side is tiny and broadcast-joined.
    *
    * Determinism: raw projections via the same index-ordered native
    * kernel as [[randomProject]]; both squared-distance sums are
    * index-ascending left folds, so the generated oracle's explicit
    * left-associated term sums reproduce them bit-for-bit before the
    * 4dp round (the q97/q98 contract); sqrt and division are IEEE
    * correctly-rounded. `distortion` is null when the original
    * distance is zero (exact-duplicate vectors have no ratio).
    *
    * Output: (id_a, id_b, dist_orig, dist_proj, distortion), 4dp. */
  def jlDistortion(df: DataFrame, outDim: Int = 16, dim: Int = 64,
                   seed: Long = 42L, sampleIds: Int = 48,
                   vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    val signsFlat = jlSigns(outDim, dim, seed).flatten.map(_.toByte).toArray
    val scale = lit(math.sqrt(outDim.toDouble))
    val checked = when(
      assert_true(size(asDouble(col(vecCol))) === dim,
        lit(s"jlDistortion: dim=$dim but '$vecCol' has a different " +
          "length")).isNull,
      asDouble(col(vecCol)))
    val prepped = df.filter(col(idCol) < sampleIds)
      .select(col(idCol), asDouble(col(vecCol)).as("_v"),
        graft.plans.VectorExpressions
          .signedProject(checked, signsFlat, dim).as("_p"))
    val a = prepped.select(col(idCol).as("id_a"), col("_v").as("_va"),
      col("_p").as("_pa"))
    val b = prepped.select(col(idCol).as("id_b"), col("_v").as("_vb"),
      col("_p").as("_pb"))
    // index-ascending left fold; 0.0 + x == x for the non-negative
    // squares, so the fold equals the oracle's explicit term chain
    def sumSq(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (u, w) => (u - w) * (u - w)),
        lit(0.0), (acc, t) => acc + t)
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        sqrt(sumSq(col("_va"), col("_vb"))).as("_do"),
        (sqrt(sumSq(col("_pa"), col("_pb"))) / scale).as("_dp"))
      .select(col("id_a"), col("id_b"),
        round(col("_do"), 4).as("dist_orig"),
        round(col("_dp"), 4).as("dist_proj"),
        when(col("_do") > 0, round(col("_dp") / col("_do"), 4))
          .as("distortion"))
  }

  /** Two-stage retrieval: SHORTLIST on the 16-dim JL projection (4×
    * fewer bytes per candidate comparison), then EXACT re-rank of the
    * shortlist on the full vectors — the standard recall/cost trade of
    * production ANN (shortlist cheap and slightly lossy, re-rank exact
    * and tiny). Deterministic end to end: projected sims round 4dp with
    * id tiebreaks, so shortlist membership and final ranks are
    * total-ordered in any engine. At scale the full-vector join touches
    * only queries×shortlist rows — the corpus's full vectors stream
    * through the shortlist join once, never all-pairs. */
  def projectedTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                    shortlist: Int = 50, outDim: Int = 16, dim: Int = 64,
                    seed: Long = 42L, vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    // Shortlist on the RAW kernel sums, not the rounded/scaled scalar
    // columns: cosine is invariant to the common 1/√k scale, and the
    // scalar-column repack (32 × round(element_at)) measured 57-63 s
    // where the kernel array measures 2.7 s on the same 64-query × 64k
    // corpus — the repack expressions land inside the per-pair join
    // loop. The size() guard references each array twice so the
    // projection stays materialized per ROW below the join (single-use
    // non-cheap expressions get inlined into the pair loop: measured
    // 4.0 s unguarded vs 2.7 s guarded).
    val signsFlat = jlSigns(outDim, dim, seed).flatten.map(_.toByte).toArray
    def proj(df: DataFrame) = {
      val checked = when(
        assert_true(size(asDouble(col(vecCol))) === dim,
          lit(s"projectedTopK: dim=$dim but '$vecCol' has a different " +
            "length")).isNull,
        asDouble(col(vecCol)))
      graft.plans.VectorExpressions.signedProject(checked, signsFlat, dim)
    }
    val pc = corpus.select(col(idCol).as("neighbor_id"),
      proj(corpus).as("cvec"))
    val pq = broadcast(queries.select(col(idCol).as("query_id"),
      proj(queries).as("qvec")))
    val scored = pc.join(pq, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(size(col("cvec")) === outDim && size(col("qvec")) === outDim,
          cosine(col("qvec"), col("cvec"))).as("sim"))
    val short = topKPerKey(scored, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val fullC = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cvec"))
    val fullQ = broadcast(queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec")))
    val rescored = short
      .join(fullC, Seq("neighbor_id"))
      .join(fullQ, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    topKPerKey(rescored, k)
  }

  /** Triplet mining for metric-learning training data: for every
    * anchor, the most-similar SAME-label vector (positive) and the
    * most-similar OTHER-label vector (hard negative), ties resolving
    * to the LOWEST candidate id. Anchors broadcast against one corpus
    * scan (the q35 shape); both top-1s come from partial-aggregatable
    * `max(struct(sim, −id))` — no sort, no window, map-side combine
    * all the way. Anchors whose label class has no second member get
    * a null positive. */
  def tripletMine(corpus: DataFrame, anchors: DataFrame,
                  vecCol: String = "embedding",
                  idCol: String = "vec_id",
                  labelCol: String = "label"): DataFrame = {
    val a = broadcast(anchors.select(col(idCol).as("anchor_id"),
      asDouble(col(vecCol)).as("avec"), col(labelCol).as("alabel")))
    val c = corpus.select(col(idCol).as("cand_id"),
      asDouble(col(vecCol)).as("cvec"), col(labelCol).as("clabel"))
    val scored = c.join(a, col("anchor_id") =!= col("cand_id"))
      .select(col("anchor_id"), col("alabel"), col("cand_id"),
        (col("clabel") === col("alabel")).as("same"),
        cosine(col("avec"), col("cvec")).as("sim"))
    def side(cond: Column) = max(when(cond,
      struct(col("sim").as("s"), (-col("cand_id")).as("n"))))
    scored.groupBy(col("anchor_id"), col("alabel"))
      .agg(side(col("same")).as("p"), side(!col("same")).as("ng"))
      .select(col("anchor_id"), col("alabel").as("anchor_label"),
        (-col("p.n")).as("positive_id"), col("p.s").as("positive_sim"),
        (-col("ng.n")).as("negative_id"), col("ng.s").as("negative_sim"))
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). Queries are broadcast (small side);
    * ranking uses the ROUNDED similarity with id tiebreak so the result is
    * total-ordered and engine-portable. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    // raw vectors straight into the fused kernel: CosineSimilarity
    // widens float elements in-loop (bit-identical to a cast pass), so
    // the corpus side never materializes a double[] copy per row
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    topKPerKey(scored, k)
  }

  /** The pairwise-similarity frame behind [[intraListSimilarity]]:
    * one row per unordered doc pair within a query's top-k, with the
    * cosine quantized to the repo-wide 1e-4 grid as a LONG
    * (`round(cos·10⁴)` — the mmrQuantize grid, distributed). Split
    * out so gate queries can STAGE it: the aggregation downstream is
    * then pure integer algebra in both engines. */
  private[graft] def ilsPairs(run: DataFrame, embeddings: DataFrame,
                              k: Int,
                              queryCol: String, idCol: String,
                              rankCol: String, vecCol: String,
                              embIdCol: String): DataFrame = {
    val r = col(rankCol).cast("long")
    val guarded = when(r.isNull || r < 1,
      raise_error(concat(lit(s"intraListSimilarity: $rankCol must " +
        "be >= 1; got "), r.cast("string")))).otherwise(r)
    val slim = run.select(col(queryCol), col(idCol), guarded.as("_r"))
      .where(col("_r") <= k)
      .join(embeddings.select(col(embIdCol).as(idCol),
        asDouble(col(vecCol)).as("_v")), Seq(idCol))
    val a = slim.select(col(queryCol), col(idCol).as("id_a"),
      col("_v").as("_va"))
    val b = slim.select(col(queryCol), col(idCol).as("id_b"),
      col("_v").as("_vb"))
    a.join(b, Seq(queryCol)).where(col("id_a") < col("id_b"))
      .select(col(queryCol), col("id_a"), col("id_b"),
        round(graft.plans.VectorExpressions.cosineSim(
          col("_va"), col("_vb")) * 1e4).cast("long").as("sim4"))
  }

  /** [[intraListSimilarity]]'s aggregation leg over an
    * [[ilsPairs]]-shaped frame (staged or live): exact pair count +
    * sim4 sum, mean similarity at 4dp via the SIGNED half-up bridge
    * (cosines can be negative). */
  private[graft] def ilsAggregate(pairs: DataFrame,
                                  queryCol: String): DataFrame =
    pairs.groupBy(col(queryCol))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(col("sim4")).cast("long").as("sum_sim4"))
      .select(col(queryCol), col("n_pairs"), col("sum_sim4"),
        graft.functions.ExactRound.signedRatio(col("sum_sim4"),
          col("n_pairs") * 10000L, 4).as("ils"))

  /** Intra-list similarity @k: the REDUNDANCY of a result list as the
    * mean pairwise 4dp cosine of its top-k members — the diversity
    * readout [[mmrRerank]] exists to push down (measure before/after
    * to price a λ). One embedding join + a k-bounded pair self-join
    * per query (≤ k(k−1)/2 rows — shortlist algebra, never corpus
    * work). Queries with fewer than two resolved members drop (no
    * pairs to average). Output: (queryCol, n_pairs, sum_sim4, ils). */
  def intraListSimilarity(run: DataFrame, embeddings: DataFrame,
                          k: Int = 10,
                          queryCol: String = "query_id",
                          idCol: String = "doc_id",
                          rankCol: String = "rank",
                          vecCol: String = "embedding",
                          embIdCol: String = "vec_id"): DataFrame = {
    require(k >= 2 && k <= 1000, s"need 2 <= k <= 1000; got $k")
    ilsAggregate(ilsPairs(run, embeddings, k, queryCol, idCol,
      rankCol, vecCol, embIdCol), queryCol)
  }

  /** Two-phase top-k via `row_number` + rank-limit pushdown: the
    * filter on a row_number window triggers Spark's WindowGroupLimit
    * rule, which inserts a PARTIAL per-partition group limit before
    * the exchange — map-side bounded exactly like the previous manual
    * collect_list/array_sort two-phase formulation (no reducer sees
    * more than numPartitions×k candidates per key), but without
    * materializing per-group candidate ARRAYS: the old partial
    * collect_list built and sorted a struct array per (key, partition)
    * — measured ~0.3 s of q35's 1.5 s at the 128× crossover — where
    * the window limit keeps a running k-bounded insertion state per
    * group. Plan shape (WindowGroupLimit Partial below the exchange,
    * Final above) is pinned in PlanShapeSpec. Ordering contract
    * unchanged: rounded sim desc, neighbor_id asc — total order,
    * engine-portable. */
  def topKPerKey(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("_rn").cast("long").as("rank"),
        col("neighbor_id"), col("sim"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): greedily re-order a retrieved shortlist so each pick
    * maximizes `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)` — the
    * standard redundancy-vs-relevance diversifier between retrieval
    * and a RAG context window. First pick is pure relevance (the max
    * over the empty set contributes 0).
    *
    * Exactness: relevance and pairwise cosines quantize to 4dp longs
    * (`round(x·10⁴)`, the repo-wide similarity grid), λ to a micro
    * unit, and every greedy score is the exact LONG
    * `λ6·rel4 − (10⁶−λ6)·maxSim4` with ties broken by id — so the
    * selection order is deterministic and engine-replayable (the
    * oracle unrolls the same k steps in SQL over the same integers).
    *
    * Scale: the INPUT is a per-query shortlist (top-N from the ANN
    * paths), so this is bounded driver work BY DESIGN — n·d doubles
    * collected, k·n exact-integer scores — the [[Pca.jacobiEigen]]
    * class of driver step, not a corpus operation. The distributed
    * work is producing the shortlist. Guarded at 4096 rows. */
  /** The exact integer state [[mmrRerank]]'s greedy runs on — ids
    * ascending, input rel doubles, their 4dp grid longs, and the
    * quantized pairwise cosine grid. Exposed (package-private) so the
    * q336 staging gate can persist EXACTLY these integers for the
    * oracle to replay — the greedy is then engine-replayed over one
    * shared quantization instead of two independently-computed
    * cosines (whose last-ulp disagreement would cascade through the
    * selection). */
  private[graft] final case class MmrState(ids: Array[Long],
      rel: Array[Double], rel4: Array[Long], sim4: Array[Array[Long]])

  private[graft] def mmrQuantize(shortlist: DataFrame,
      idCol: String = "doc_id", vecCol: String = "embedding",
      relCol: String = "rel"): MmrState = {
    // bound BEFORE collecting: limit(4097) caps what can ever reach
    // the driver, so a corpus-scale misuse fails in the require below
    // instead of OOMing the driver during the collect itself.
    // Collected as Rows (not a primitive-tuple Dataset): a null id/rel/
    // embedding must fail the loud requires below, naming the offending
    // id, not die in the encoder or NPE on _._3.length
    val raw = shortlist
      .select(col(idCol).cast("long"), col(relCol).cast("double"),
        asDouble(col(vecCol)))
      .limit(4097)
      .collect()
    require(raw.length <= 4096,
      s"mmrRerank is a shortlist re-ranker (driver-side greedy); got " +
        s"> 4096 rows — run the ANN top-N first")
    val rows = raw.map { r =>
      require(!r.isNullAt(0), s"mmrRerank: null $idCol in the shortlist")
      val id = r.getLong(0)
      require(!r.isNullAt(1),
        s"mmrRerank: null $relCol for id $id — filter or impute " +
          "relevance before re-ranking")
      require(!r.isNullAt(2),
        s"mmrRerank: null $vecCol for id $id")
      val vec = r.getSeq[Any](2)
      require(vec.nonEmpty && !vec.contains(null),
        s"mmrRerank: empty $vecCol or null element for id $id")
      (id, r.getDouble(1), vec.asInstanceOf[Seq[Double]])
    }.sortBy(_._1)
    // exact-arithmetic envelope (the covarianceMatrix discipline):
    // l6·rel4 must stay far from Long overflow, and a truncated
    // embedding must fail loudly, not cosine over a common prefix
    rows.foreach { r =>
      require(math.abs(r._2) <= 1e6,
        s"mmrRerank: |$relCol| > 1e6 overflows the exact integer " +
          s"score (id ${r._1}: ${r._2}) — rescale the relevance")
    }
    val dims = rows.iterator.map(_._3.length).toSet
    require(dims.size <= 1,
      s"mmrRerank: mixed embedding lengths $dims — a truncated vector " +
        "would silently cosine over the common prefix")
    val n = rows.length
    val vecs = rows.map(_._3.toArray)
    // raw double cosine, left-to-right accumulation (the
    // CosineSimilarity kernel's formula), quantized to the 4dp grid
    def s4(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0L else math.round(dot / den * 1e4)
    }
    val sims = Array.tabulate(n, n)((i, j) =>
      if (i == j) 10000L else s4(vecs(i), vecs(j)))
    MmrState(rows.map(_._1), rows.map(_._2),
      rows.map(r => math.round(r._2 * 1e4)), sims)
  }

  def mmrRerank(shortlist: DataFrame, lambda: Double = 0.5, k: Int = 10,
                idCol: String = "doc_id", vecCol: String = "embedding",
                relCol: String = "rel"): DataFrame =
    mmrRerank(shortlist.sparkSession,
      mmrQuantize(shortlist, idCol, vecCol, relCol), lambda, k,
      idCol, relCol)

  /** The greedy itself over an already-quantized [[MmrState]] — lets
    * the q336 staging gate persist the state AND rerank from the SAME
    * quantization (one shortlist job, and the staged-integers ==
    * greedy-integers invariant holds by construction instead of by
    * the shortlist recomputing identically). */
  private[graft] def mmrRerank(spark: org.apache.spark.sql.SparkSession,
                st: MmrState, lambda: Double, k: Int,
                idCol: String, relCol: String): DataFrame = {
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1]; got $lambda")
    require(k >= 1, s"k >= 1; got $k")
    import spark.implicits._
    val n = st.ids.length
    val l6 = math.round(lambda * 1e6)
    val taken = new Array[Boolean](n)
    // max sim4 to the selected set — which can be NEGATIVE (an
    // anti-similar doc earns a diversity BONUS); only the EMPTY set
    // contributes 0 (step 1). Initializing to 0 instead of MinValue
    // silently clamped negative maxima — caught by the q336 oracle
    // replaying the same greedy over the staged integers.
    val maxSim = Array.fill(n)(Long.MinValue)
    def penalty(i: Int): Long =
      if (maxSim(i) == Long.MinValue) 0L else maxSim(i)
    val picks = Seq.newBuilder[(Long, Long, Double, Double)]
    val kk = math.min(k, n)
    for (step <- 1 to kk) {
      var best = -1; var bestScore = Long.MinValue
      var i = 0
      while (i < n) { // id-ascending, so strict > keeps the lowest id
        if (!taken(i)) {
          val s = l6 * st.rel4(i) - (1000000L - l6) * penalty(i)
          if (s > bestScore) { best = i; bestScore = s }
        }
        i += 1
      }
      taken(best) = true
      picks += ((st.ids(best), step.toLong, st.rel(best),
        bestScore / 1e10))
      var j = 0
      while (j < n) {
        if (!taken(j) && st.sim4(j)(best) > maxSim(j))
          maxSim(j) = st.sim4(j)(best)
        j += 1
      }
    }
    picks.result().toDF(idCol, "mmr_rank", relCol, "mmr_score")
  }

  /** Leave-one-out kNN classification readout over a labeled
    * embedding table: majority vote of the k nearest neighbors
    * (vote ties → lowest label), accuracy per true label — the
    * standard "is this embedding space linearly usable" probe. The
    * all-pairs scoring here is the exact-eval regime (audit runs on a
    * sample); production inference rides the ANN shortlist paths.
    * Votes/accuracies are exact integer bridges. */
  def knnClassify(df: DataFrame, k: Int = 5,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    val a = broadcast(df.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec"),
      col(labelCol).cast("long").as("qlabel")))
    val c = df.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cvec"),
      col(labelCol).cast("long").as("clabel"))
    val scored = c.join(a, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    val top = topKPerKey(scored, k)
    val labels = df.select(col(idCol).as("neighbor_id"),
      col(labelCol).cast("long").as("clabel"))
    val qlabels = df.select(col(idCol).as("query_id"),
      col(labelCol).cast("long").as("qlabel"))
    val votes = top.join(broadcast(labels), Seq("neighbor_id"))
      .join(broadcast(qlabels), Seq("query_id"))
      .groupBy(col("query_id"), col("qlabel"), col("clabel"))
      .agg(count(lit(1)).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("v").desc, col("clabel").asc)
    votes.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).cast("long").as("n_points"),
        sum(when(col("clabel") === col("qlabel"), 1L).otherwise(0L))
          .cast("long").as("n_correct"))
      .select(col("label"), col("n_points"), col("n_correct"),
        graft.functions.ExactRound.ratio(col("n_correct"),
          col("n_points"), 4).as("accuracy"))
  }

  /** Hubness audit of the embedding space: the in-degree of each
    * point in the k-NN digraph (how many OTHER points list it among
    * their k nearest), folded to an in-degree histogram. Heavy-tailed
    * in-degree ("hub" points appearing in everyone's neighbor list)
    * is the classic high-dimensional pathology that silently degrades
    * kNN classifiers and ANN recall. Exact integer counts end to
    * end. */
  def hubness(df: DataFrame, k: Int = 5, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val a = broadcast(df.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec")))
    val c = df.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cvec"))
    val scored = c.join(a, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("sim"))
    val inDeg = topKPerKey(scored, k)
      .groupBy(col("neighbor_id"))
      .agg(count(lit(1)).cast("long").as("in_degree"))
    // points never listed have in-degree 0 — join back so they count
    df.select(col(idCol).as("neighbor_id"))
      .join(inDeg, Seq("neighbor_id"), "left")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree"))
      .agg(count(lit(1)).cast("long").as("n_points"))
  }

  /** Deterministic pseudo-random hyperplanes: `planes` × `dim` doubles in
    * [-1,1), seeded — the IVF/LSH bucketing basis. */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rng.nextDouble() * 2 - 1))
  }

  /** Sign-bit LSH bucket id from `planes` hyperplane dot products. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(vec, planeLit) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All self-pairs with cosine ≥ threshold — embedding near-dup
    * detection. LSH-bucketed: pairs are generated only within a bucket
    * (shuffle by bucket key), then verified exactly. Multi-probe via
    * `bands` independent bucketings raises recall. */
  def cosineSelfPairs(embeddings: DataFrame, threshold: Double,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id",
                      planesPerBand: Int = 8, bands: Int = 4,
                      dim: Int = 64): DataFrame = {
    val base = embeddings.select(col(idCol).as("id"),
      asDouble(col(vecCol)).as("vec"))
    val banded = base.select(col("id"), col("vec"),
      explode(array((0 until bands).map { bnd =>
        val planes = hyperplanes(planesPerBand, dim, seed = 42L + bnd)
        struct(lit(bnd).as("band"), lshBucket(col("vec"), planes).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("vec"), col("bb.band"), col("bb.bucket"))
    // Score INLINE during the band join, then distinct the scored pairs.
    // A pair co-occurring in several bands is scored once per band — up
    // to `bands`× redundant cosine math — but that is the cheaper side
    // of a measured trade: the alternative (distinct the id pairs first,
    // then join vectors back) moves both 64-dim vectors into every PAIR
    // row through two shuffle joins, and pairs outnumber vectors
    // precisely when duplicates exist. Measured on the 32× near-dup
    // corpus (64k vectors, 2.13M surviving pairs, 4 bands): inline
    // 18-22 s vs dedup-then-join 61-81 s, identical output. Vectors
    // shuffle once per (vector, band) here — never per pair. The
    // pair join's one exchange also materializes the LSH bucket
    // projection once per row instead of per matched pair.
    SkewTools.selfPairs(banded, Seq("band", "bucket"), Seq("id", "vec"))
      .select(col("id_a"), col("id_b"),
        cosine(col("vec_a"), col("vec_b")).as("sim"))
      .distinct()
      .filter(col("sim") >= threshold)
  }

  /** IVF (inverted-file) ANN index: k-means partitions the corpus into
    * `nCentroids` cells; a query scans only its `nProbe` nearest cells.
    * `nProbe = nCentroids` degenerates to exact brute force (the
    * property SimilaritySpec pins). At cluster scale the assignment is
    * one shuffle by cell id and each probe is a pruned partition read.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              nCentroids: Int = 16, nProbe: Int = 4,
              vecCol: String = "embedding",
              idCol: String = "vec_id", seed: Long = 42L): DataFrame = {
    // build + search in one shot; [[IvfIndex]] is the persisted form
    // (same fit, same probe ranking, same scoring — spec-pinned equal)
    val (centroids, cells) =
      IvfIndex.build(corpus, nCentroids, vecCol, idCol, seed)
    IvfIndex.search(centroids, cells, queries, k, nProbe, vecCol, idCol)
  }

  /** Exact brute-force self-pairs above threshold (oracle-matchable
    * counterpart of cosineSelfPairs; fine while n² fits, the LSH variant
    * is the scale path). */
  def bruteForceSelfPairs(embeddings: DataFrame, threshold: Double,
                          vecCol: String = "embedding",
                          idCol: String = "vec_id"): DataFrame = {
    val a = embeddings.select(col(idCol).as("id_a"),
      asDouble(col(vecCol)).as("vec_a"))
    val b = embeddings.select(col(idCol).as("id_b"),
      asDouble(col(vecCol)).as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("vec_a"), col("vec_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
