package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  // 4-dim toy corpus: v1 ∥ v2 (identical direction), v3 orthogonal-ish
  private def vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(2.0f, 0.0f, 0.0f, 0.0f)),
    (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Seq(0.9f, 0.1f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: parallel vectors 1.0, orthogonal 0.0") {
    val sims = Similarity.bruteForceSelfPairs(vecs, threshold = -1.0)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Double)].collect().toMap2
    assert(sims((1L, 2L)) == 1.0)
    assert(sims((1L, 3L)) == 0.0)
    assert(sims((2L, 4L)) > 0.9)
  }

  test("bruteForceTopK ranks by similarity desc with id tiebreak") {
    val out = Similarity.bruteForceTopK(vecs,
        vecs.filter(col("vec_id") === 1L), k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(2L, 4L, 3L))
  }

  test("LSH self-pairs are a subset of brute force and keep the " +
    "identical-direction pair") {
    val exact = Similarity.bruteForceSelfPairs(vecs, 0.9)
    val lsh = Similarity.cosineSelfPairs(vecs, 0.9, planesPerBand = 4,
      bands = 4, dim = 4)
    val exactSet = exact.select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    val lshSet = lsh.select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    assert(lshSet.subsetOf(exactSet))
    assert(lshSet.contains((1L, 2L))) // same direction → same buckets
  }

  test("native cosine kernel matches the HOF formulation bit-for-bit " +
    "and registers as a SQL function") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val hof = round(Similarity.dot(col("v"), col("va")) /
      nullif(Similarity.norm(col("v")) * Similarity.norm(col("va")),
        lit(0)), 4)
    val joined = e.crossJoin(e.select(col("vec_id").as("ida"),
      col("v").as("va")))
    val diffs = joined
      .select(Similarity.cosine(col("v"), col("va")).as("native"),
        hof.as("reference"))
      .filter(!(col("native") <=> col("reference"))).count()
    assert(diffs == 0)

    // same registration path GraftExtensions injects at session build
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim",
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        => graft.plans.CosineSimilarity(children(0), children(1)),
      "built-in")
    val viaSql = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(2.0d, 0.0d))")
      .as[Double].head()
    assert(viaSql == 1.0)
  }

  test("IVF with full probes equals brute force; partial probes return " +
    "a bounded approximate subset") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = e.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(e, queries, k = 5)
      .select("query_id", "rank", "neighbor_id")
      .collect().toSet
    val full = Similarity.ivfTopK(e, queries, k = 5, nCentroids = 8,
        nProbe = 8)
      .select("query_id", "rank", "neighbor_id")
      .collect().toSet
    assert(full == exact) // scanning every cell degenerates to exact
    val partial = Similarity.ivfTopK(e, queries, k = 5, nCentroids = 8,
      nProbe = 2).collect()
    assert(partial.length <= 15)
    assert(partial.nonEmpty)
  }

  test("mmrRerank demotes the near-duplicate of an already-selected " +
    "doc — hand-computed greedy picks, exact integer scores") {
    // id 1 most relevant; id 2 is its near-duplicate (sim4 = 9998);
    // id 3 orthogonal. λ=0.5: pick1 = 1 (pure relevance), pick2 = 3
    // (2's redundancy penalty 0.9998 sinks it), pick3 = 2 negative.
    val short = Seq(
      (1L, 0.9, Seq(1.0f, 0.0f)),
      (2L, 0.89, Seq(1.0f, 0.02f)),
      (3L, 0.6, Seq(0.0f, 1.0f)))
      .toDF("doc_id", "rel", "embedding")
    val got = Similarity.mmrRerank(short, lambda = 0.5, k = 3)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._2).toSeq
    // scores: 500000·9000/1e10 = 0.45; 500000·6000/1e10 = 0.30;
    // 500000·(8900 − 9998)/1e10 = −0.0549
    assert(got == Seq(
      (1L, 1L, 0.9, 0.45),
      (3L, 2L, 0.6, 0.3),
      (2L, 3L, 0.89, -0.0549)))
    // k caps at the shortlist size; ties break by id (two identical
    // docs: the lower id is picked first)
    val tied = Seq(
      (7L, 0.5, Seq(1.0f, 0.0f)),
      (4L, 0.5, Seq(1.0f, 0.0f)))
      .toDF("doc_id", "rel", "embedding")
    val t = Similarity.mmrRerank(tied, lambda = 0.5, k = 5)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._2).toSeq
    assert(t.map(_._1) == Seq(4L, 7L) && t.map(_._2) == Seq(1L, 2L))
    // an ANTI-similar doc (negative max-sim) earns a diversity BONUS,
    // not a clamped 0 — the bug the q336 staged oracle caught: score
    // for the opposite vector = 0.5·4000 − 0.5·(−10000) → 0.7
    val anti = Seq(
      (1L, 0.5, Seq(1.0f, 0.0f)),
      (2L, 0.4, Seq(-1.0f, 0.0f)))
      .toDF("doc_id", "rel", "embedding")
    val a2 = Similarity.mmrRerank(anti, lambda = 0.5, k = 2)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._2).toSeq
    assert(a2 == Seq((1L, 1L, 0.5, 0.25), (2L, 2L, 0.4, 0.7)))
  }

  test("JL random projection preserves norms within the distortion " +
    "bound, is a pure map, and is deterministic across runs") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val proj = Similarity.randomProject(emb, outDim = 16, dim = 64)
    assert(proj.columns.toSeq ==
      "vec_id" +: (0 until 16).map(j => f"rp_$j%02d"))
    // E||y||^2 = ||x||^2 per JL; with k=16 individual ratios are noisy
    // (std ~ sqrt(2/k) ~ 35%) but the mean over 500 vectors is tight
    val projNorm2 = (0 until 16).map(j => col(f"rp_$j%02d") *
      col(f"rp_$j%02d")).reduce(_ + _)
    val origNorm2 = aggregate(transform(col("embedding"),
      x => x.cast("double") * x.cast("double")), lit(0.0), _ + _)
    val meanRatio = proj.join(emb, "vec_id")
      .select((projNorm2 / nullif(origNorm2, lit(0.0))).as("r"))
      .agg(avg("r")).head().getDouble(0)
    assert(math.abs(meanRatio - 1.0) < 0.1, s"mean norm ratio $meanRatio")
    // pure map: no exchange in the plan
    val plan = proj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "projection must not shuffle")
    // deterministic: two runs identical
    val h1 = proj.orderBy("vec_id").collect().toSeq
    val h2 = Similarity.randomProject(emb, outDim = 16, dim = 64)
      .orderBy("vec_id").collect().toSeq
    assert(h1 == h2)
  }

  test("jlDistortion: per-pair distance ratios sit in the measured " +
    "(1±ε) envelope with mean² ≈ 1; zero-distance pairs report null") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.jlDistortion(emb, outDim = 16, dim = 64,
        seed = 42L, sampleIds = 48)
      .select("dist_orig", "dist_proj", "distortion")
      .as[(Double, Double, Option[Double])].collect()
    assert(out.length == 48 * 47 / 2)
    val rs = out.flatMap(_._3)
    // the fixture sample has no duplicate vectors -> every pair rates
    assert(rs.length == out.length)
    // the analytic JL tail bound is VACUOUS at k=16 (the per-pair
    // failure probability at ε=1 is ~0.5); the pinned envelope is the
    // MEASURED one — [0.45, 1.55] across all three fixtures — with
    // margin, plus the E[ratio²]=1 moment the lemma does guarantee
    assert(rs.forall(r => r > 0.25 && r < 1.75),
      s"ratio outside envelope: min=${rs.min} max=${rs.max}")
    val meanSq = rs.map(r => r * r).sum / rs.length
    assert(math.abs(meanSq - 1.0) < 0.2, s"mean ratio^2 $meanSq")
    // identical vectors: distance 0 -> null ratio, zero projected dist
    val dup = Seq((0L, Seq.fill(64)(1.0f)), (1L, Seq.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
    val z = Similarity.jlDistortion(dup, outDim = 16, dim = 64)
      .select("dist_orig", "dist_proj", "distortion")
      .as[(Double, Double, Option[Double])].collect().toSeq
    assert(z == Seq((0.0, 0.0, None)))
  }

  test("projected two-stage kNN recalls most exact neighbors and its " +
    "re-ranked sims are exact (not projected approximations)") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect().toSet
    val projected = Similarity.projectedTopK(emb, queries, k = 10,
        shortlist = 100, outDim = 32)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect().toSet
    // recall@10 with a 100-deep shortlist on 32 dims (these fixture
    // embeddings are near-isotropic — the hardest case for JL): most
    // exact neighbors survive; every surviving pair carries the EXACT
    // sim (set intersection matches on the full triple incl. sim)
    val recall = (exact intersect projected).size / exact.size.toDouble
    assert(recall >= 0.6, s"recall@10 = $recall")
    projected.foreach { case (q, n, sim) =>
      val ex = exact.find(e => e._1 == q && e._2 == n)
      ex.foreach(e => assert(e._3 == sim,
        s"re-ranked sim must be exact for ($q,$n)"))
    }
  }

  test("int8 quantization: codes bounded, reconstruction within " +
    "scale/2, quantized cosine within 0.03 of exact, zero vector safe") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = Similarity.quantizeInt8(emb).cache()
    // codes in [-127, 127]
    val oob = q.select(explode(col("qvec")).as("c"))
      .filter(col("c") > 127 || col("c") < -127).count()
    assert(oob == 0)
    // reconstruction error per element <= scale/2 (+ rounding slack on
    // the 6dp-rounded published scale)
    val err = q.join(emb, "vec_id")
      .select(col("scale"), explode(arrays_zip(
        Similarity.asDouble(col("embedding")).as("v"),
        col("qvec").as("c"))).as("z"))
      .filter(abs(col("z.v") - col("z.c") * col("scale")) >
        col("scale") / 2 + lit(1e-4))
      .count()
    assert(err == 0)
    // cosine on the integer codes tracks the exact cosine
    val pairs = emb.limit(10).alias("a")
      .crossJoin(emb.limit(10).alias("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.cosine(Similarity.asDouble(col("a.embedding")),
          Similarity.asDouble(col("b.embedding"))).as("exact"),
        col("a.vec_id").as("ida"), col("b.vec_id").as("idb"))
    val qc = q.alias("qa").join(pairs, col("qa.vec_id") === col("ida"))
      .join(q.alias("qb"), col("qb.vec_id") === col("idb"))
      .select(col("exact"), Similarity.cosine(
        Similarity.asDouble(col("qa.qvec")),
        Similarity.asDouble(col("qb.qvec"))).as("approx"))
      .filter(abs(col("exact") - col("approx")) > 0.03).count()
    assert(qc == 0)
    // zero vector: scale 0, all-zero codes, no NaN
    import spark.implicits._
    val z = Similarity.quantizeInt8(
      Seq((99L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding"))
      .as[(Long, Double, Seq[Long])].head()
    assert(z == (99L, 0.0, Seq(0L, 0L)))
    q.unpersist()
  }

  test("intraListSimilarity: hand geometry — two parallel vectors + " +
    "one orthogonal read ils = round(1/3, 4dp); sub-2-member lists " +
    "drop; a bad rank fails loudly") {
    import spark.implicits._
    val emb = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(2.0, 0.0)), (12L, Seq(0.0, 3.0)),
      (13L, Seq(1.0, 1.0))
    ).toDF("vec_id", "embedding")
    val run = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 13L, 1L) // one member -> no pairs -> drops
    ).toDF("query_id", "doc_id", "rank")
    val out = Similarity.intraListSimilarity(run, emb, k = 10)
      .orderBy("query_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // pairs: (10,11)=1 -> 10000; (10,12)=0; (11,12)=0
    assert(out == Seq((1L, 3L, 10000L, 0.3333)))
    val bad = Seq((1L, 10L, 0L)).toDF("query_id", "doc_id", "rank")
    val e = intercept[Exception] {
      Similarity.intraListSimilarity(bad, emb, k = 10).collect()
    }
    assert(e.getMessage.contains("rank must be >= 1"))
  }

  test("int8Distortion: zero vector reads 0; the (1.0, 0.5) hand case " +
    "reads the stored-6dp-scale dequant error at 4dp") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.5)))
      .toDF("vec_id", "embedding")
    val out = Similarity.int8Distortion(df).orderBy("vec_id")
      .as[(Long, Double)].collect().toSeq
    // scale = round(1/127, 6) = 0.007874; codes (127, 64);
    // deq = (0.999998, 0.503936); L2 = 0.0039362 -> 0.0039
    assert(out == Seq((1L, 0.0), (2L, 0.0039)))
  }

  test("intraListSimilarity: MMR re-ranking never raises the " +
    "redundancy of the head it diversifies (lambda 0.5 on real " +
    "embeddings)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q0 = emb.filter(col("vec_id") === 0)
    val short = Similarity.bruteForceTopK(emb, q0, k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"),
        col("sim").as("rel"))
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
    val mmr = Similarity.mmrRerank(short, lambda = 0.5, k = 10)
      .select(lit(0L).as("query_id"), col("doc_id"),
        col("mmr_rank").as("rank"))
    val plain = short.filter(col("rank") <= 10)
      .select(lit(0L).as("query_id"), col("doc_id"), col("rank"))
    def ils(run: org.apache.spark.sql.DataFrame): Double =
      Similarity.intraListSimilarity(run, emb, k = 10)
        .select("ils").as[Double].head()
    assert(ils(mmr) <= ils(plain) + 1e-9)
  }

  implicit private class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }
}
