package graft

import org.apache.spark.sql.functions.col
import graft.operators.{Dedup, Relevance}

class RelevanceSpec extends SparkSuite {
  import spark.implicits._

  test("tfIdfTopK ranks by tf·ln(N/df) with token-asc tiebreak, " +
    "hand-computed corpus") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry cherry date"))
      .toDF("doc_id", "text")
    val got = Relevance.tfIdfTopK(docs, k = 2)
      .as[(Long, Long, String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    assert(got.toSeq == Seq(
      (1L, 1L, "apple", 2L, 2.197225),  // 2·ln 3
      (1L, 2L, "banana", 1L, 0.405465), // ln 1.5
      (2L, 1L, "banana", 1L, 0.405465), // score tie → token asc
      (2L, 2L, "cherry", 1L, 0.405465),
      (3L, 1L, "date", 1L, 1.098612),   // ln 3 beats 2·ln 1.5
      (3L, 2L, "cherry", 2L, 0.81093)))
  }

  test("rrfFuse combines ranked legs by exact micro-unit 1/(k+rank) " +
    "sums — hand-computed fusion, missing-leg zero, id tiebreak") {
    val lex = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val sem = Seq((20L, 1L), (40L, 2L), (10L, 3L)).toDF("doc_id", "rank")
    val got = Relevance.rrfFuse(Seq(lex, sem), k = 60, topK = 10)
      .as[(Long, Long, Double, Long, Long)]
      .collect().sortBy(_._2).toSeq
    def t(r: Long): Long = math.round(1e6 / (60.0 + r)) // exact here
    // doc 20: r2+r1 -> 16129+16393=32522; doc 10: r1+r3 -> 16393+15873
    //  = 32266; doc 30: r3 alone 15873; doc 40: r2 alone 16129
    assert(got == Seq(
      (20L, 1L, (t(2) + t(1)) / 1e6, 2L, 1L),
      (10L, 2L, (t(1) + t(3)) / 1e6, 2L, 1L),
      (40L, 3L, t(2) / 1e6, 1L, 2L),
      (30L, 4L, t(3) / 1e6, 1L, 3L)))
    // equal-score tie breaks by doc id: two single-leg docs at the
    // same rank
    val a = Seq((5L, 1L)).toDF("doc_id", "rank")
    val b = Seq((3L, 1L)).toDF("doc_id", "rank")
    val tie = Relevance.rrfFuse(Seq(a, b), k = 60, topK = 10)
      .as[(Long, Long, Double, Long, Long)].collect().sortBy(_._2).toSeq
    assert(tie.map(x => (x._1, x._2)) == Seq((3L, 1L), (5L, 2L)))
  }

  test("rrfFuseByQuery fuses independently per query and agrees with " +
    "rrfFuse applied to each query's legs alone") {
    val legA = Seq((0L, 10L, 1L), (0L, 20L, 2L),
      (1L, 30L, 1L), (1L, 10L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val legB = Seq((0L, 20L, 1L), (0L, 40L, 2L),
      (1L, 30L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val got = Relevance.rrfFuseByQuery(Seq(legA, legB), k = 60,
        topK = 10)
      .orderBy("query_id", "fused_rank")
      .as[(Long, Long, Long, Double, Long, Long)].collect().toSeq
    // per query, the single-query operator on the filtered legs must
    // agree exactly (same integer algebra, same tiebreaks)
    val expect = Seq(0L, 1L).flatMap { q =>
      Relevance.rrfFuse(
          Seq(legA.where(legA("query_id") === q).drop("query_id"),
            legB.where(legB("query_id") === q).drop("query_id")),
          k = 60, topK = 10)
        .as[(Long, Long, Double, Long, Long)].collect().sortBy(_._2)
        .map(r => (q, r._1, r._2, r._3, r._4, r._5)).toSeq
    }
    assert(got == expect)
    // doc 30 appears in both legs of query 1 at rank 1 → top of q1
    assert(got.filter(_._1 == 1L).head._2 == 30L)
  }

  test("rboAtK: hand-computed suffix-weight sum; identical runs read " +
    "~1-p^k; disjoint runs read 0; ranks beyond k are ignored") {
    // k=3, p=0.9: u6 = [100000, 45000, 27000], S = [172000, 72000,
    // 27000]. A=[1,2,3], B=[2,1,4]: common docs 1 (max rank 2) and
    // 2 (max rank 2) -> rbo6 = 2*S(2) = 144000
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L), (1L, 2L), (4L, 3L)).toDF("doc_id", "rank")
    assert(Relevance.rboSuffix(3, 0.9) == Seq(172000L, 72000L, 27000L))
    val got = Relevance.rboAtK(a, b, k = 3, p = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((2L, 144000L, 0.144)))
    // identical runs: rbo6 = sum_d d*u6(d), which approximates
    // 1e6*(1-p^k) within the per-depth quantization
    val full = (1 to 20).map(i => (i.toLong * 7, i.toLong))
      .toDF("doc_id", "rank")
    val w = Relevance.rboDepthWeights(20, 0.9)
    val expect = (1 to 20).map(d => d * w(d - 1)).sum
    val self = Relevance.rboAtK(full, full, k = 20, p = 0.9)
      .as[(Long, Long, Double)].collect().head
    assert(self._1 == 20L && self._2 == expect &&
      math.abs(self._2 / 1e6 - (1 - math.pow(0.9, 20))) < 2e-5)
    // disjoint runs; and a rank > k on one side drops that doc
    val c = Seq((100L, 1L)).toDF("doc_id", "rank")
    assert(Relevance.rboAtK(a, c, k = 3).as[(Long, Long, Double)]
      .collect().toSeq == Seq((0L, 0L, 0.0)))
    val beyond = Seq((1L, 1L), (2L, 9L)).toDF("doc_id", "rank")
    assert(Relevance.rboAtK(a, beyond, k = 3, p = 0.9)
      .as[(Long, Long, Double)].collect().head._1 == 1L)
    // per-query variant agrees with the single-query operator per
    // query; a no-overlap query drops
    val mA = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L),
      (1L, 7L, 1L)).toDF("query_id", "doc_id", "rank")
    val mB = Seq((0L, 2L, 1L), (0L, 1L, 2L), (0L, 4L, 3L),
      (1L, 8L, 1L)).toDF("query_id", "doc_id", "rank")
    val byQ = Relevance.rboByQuery(mA, mB, k = 3, p = 0.9)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(byQ == Seq((0L, 2L, 144000L, 0.144)))
  }

  test("tfIdfTopK corpus size joins as a broadcast, not a cartesian") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val p = Relevance.tfIdfTopK(docs).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("chunkDupStats flags chunks seen earlier in (doc_id, idx) order; " +
    "empty text is one empty chunk on both engines") {
    val docs = Seq(
      (1L, "a b a b c"), // chunks: "a b", "a b"(dup), "c"
      (2L, "a b x"),     // chunks: "a b"(dup of d1), "x"
      (3L, ""))          // split(trim('')) = [''] → one "" chunk
      .toDF("doc_id", "text")
    val got = Dedup.chunkDupStats(docs, chunkTokens = 2)
      .as[(Long, Long, Long, Double)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, 0.333333),
      (2L, 2L, 1L, 0.5),
      (3L, 1L, 0L, 0.0)))
  }

  test("unigramPerplexity: uniform corpus scores ppl = vocab size; " +
    "token-less docs get null scores") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 4 distinct tokens, once each → p = 1/4 everywhere → ppl = 4
    val docs = Seq((1L, "a b"), (2L, "c d"), (3L, "")).toDF("doc_id", "text")
    val got = graft.operators.Relevance.unigramPerplexity(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(got(0) == (1L, 2L, Some(1.3863), Some(4.0)))
    assert(got(1) == (2L, 2L, Some(1.3863), Some(4.0)))
    assert(got(2) == (3L, 0L, None, None))
    // skewed corpus: "a a b" alone → p(a)=2/3, p(b)=1/3
    // CE = -(2·ln(2/3) + ln(1/3))/3; hand-check against the operator
    val solo = Seq((1L, "a a b")).toDF("doc_id", "text")
    val ce = graft.operators.Relevance.unigramPerplexity(solo)
      .select(col("cross_entropy")).as[Double].head()
    val want = -(2 * math.log(2.0 / 3) + math.log(1.0 / 3)) / 3
    assert(math.abs(ce - want) < 5e-4)
  }

  test("bigramPerplexity: deterministic corpus gives ppl 1; branching " +
    "prefix gives the hand-computed conditional entropy") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // every bigram is forced: a→b always, b→a always → p=1, CE=0, ppl=1
    val det = Seq((1L, "a b a b a"), (2L, "a b")).toDF("doc_id", "text")
    val d = graft.operators.Relevance.bigramPerplexity(det)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
    assert(d(0) == (1L, 4L, Some(0.0), Some(1.0)))
    assert(d(1) == (2L, 1L, Some(0.0), Some(1.0)))
    // "a" branches: a→b once, a→c once → p = 1/2 each; doc CE = ln 2
    val branch = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val b = graft.operators.Relevance.bigramPerplexity(branch)
      .select(col("perplexity")).as[Double].collect().toSeq
    assert(b == Seq(2.0, 2.0))
    // short doc: no bigrams → nulls
    val short = Seq((1L, "solo")).toDF("doc_id", "text")
    val s = graft.operators.Relevance.bigramPerplexity(short)
      .as[(Long, Long, Option[Double], Option[Double])].head()
    assert(s == (1L, 0L, None, None))
  }

  test("trigramPerplexity: forced continuations give ppl 1; a " +
    "branching 2-token prefix gives ppl 2; <3-token docs get nulls") {
    import spark.implicits._
    // every (w1,w2) prefix determines w3 → all p=1
    val det = Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text")
    val d = graft.operators.Relevance.trigramPerplexity(det)
      .as[(Long, Long, Option[Double], Option[Double])].head()
    assert(d == (1L, 7L, Some(0.0), Some(1.0)))
    // prefix "a b" continues to c once and d once → p = 1/2 each
    val branch = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val b = graft.operators.Relevance.trigramPerplexity(branch)
      .select(org.apache.spark.sql.functions.col("perplexity"))
      .as[Double].collect().toSeq
    assert(b == Seq(2.0, 2.0))
    val short = Seq((1L, "two words")).toDF("doc_id", "text")
    val s = graft.operators.Relevance.trigramPerplexity(short)
      .as[(Long, Long, Option[Double], Option[Double])].head()
    assert(s == (1L, 0L, None, None))
  }

  test("zipfSlope: exactly zipfian counts fit slope -1; single-type " +
    "group has no slope") {
    // counts 12/rank: a=12, b=6, c=4, d=3 -> ln(cnt) = ln 12 - ln(rank)
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")).mkString(" ")
    val docs = Seq((1L, text, "zipf"), (2L, "solo solo solo", "mono"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.Relevance.zipfSlope(docs)
      .select("source", "n_types", "slope")
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val (nz, sz) = got("zipf")
    assert(nz == 4L)
    assert(math.abs(sz.get - (-1.0)) < 0.01, s"slope $sz")
    // one type -> zero-variance x -> null slope, not a crash
    assert(got("mono") == ((1L, None)))
  }

  test("charEntropy: uniform-16 chars read ln16=2.7726 and keep; " +
    "single-char spam reads 0 and drops; empty doc survives as null") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefghijklmnop"), (2L, "aaaa"), (3L, ""))
      .toDF("doc_id", "text")
    val out = graft.operators.Relevance.charEntropy(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double], Boolean)].collect().toSeq
    assert(out == Seq((1L, 16L, 16L, Some(2.7726), true),
      (2L, 4L, 1L, Some(0.0), false), (3L, 0L, 0L, None, false)))
  }

  test("charEntropy ≡ its relational twin cell-for-cell, including " +
    "unicode, empty, and single-char docs") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefghijklmnop"), (2L, "aaaa"), (3L, ""),
        (4L, "héllø wörld — ünïcode"), (5L, "a b a b  c"))
      .toDF("doc_id", "text")
    val a = RelevanceTwins.charEntropy(docs)
      .orderBy("doc_id").collect().toSeq
    val b = graft.operators.Relevance.charEntropy(docs)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("oovRate: top-1 vocab is the modal token; occurrence shares " +
    "are exact; an empty doc survives as zeros") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b"), (2L, "a c"), (3L, ""))
      .toDF("doc_id", "text")
    val out = graft.operators.Relevance.oovRate(docs, vocabSize = 1)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 4L, 1L, 0.25), (2L, 2L, 1L, 0.5),
      (3L, 0L, 0L, 0.0)))
  }

  test("gramNovelty: the first doc owns all its grams, an exact " +
    "duplicate owns none, and a half-overlap scores 0.5") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "b c d e"))
      .toDF("doc_id", "text")
    // bigrams: d1 {ab, bc} novel 2/2; d2 same grams → 0/2;
    // d3 {bc, cd, de}: bc seen → 2/3
    val out = graft.operators.Relevance.gramNovelty(docs, n = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 2L, 1.0), (2L, 2L, 0L, 0.0),
      (3L, 3L, 2L, 0.6667)))
  }

  test("tokenLorenz: [4,3,2,1] tokens in two buckets — the long half " +
    "holds 70% of the corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a a a a"), (2L, "b b b"), (3L, "c c"),
      (4L, "d")).toDF("doc_id", "text")
    val out = graft.operators.Relevance.tokenLorenz(docs, buckets = 2)
      .orderBy("bucket")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 7L, 7L, 0.7), (2L, 2L, 3L, 10L, 1.0)))
  }

  test("kendallTauByQuery: identical order reads +1, reversed -1, one " +
    "adjacent swap 5-1 of 6 pairs; sub-2-shared queries drop; a " +
    "non-positive rank fails loudly") {
    import spark.implicits._
    def run(rows: (Long, Long, Long)*) =
      rows.toSeq.toDF("query_id", "doc_id", "rank")
    val a = run(
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L), (1L, 13L, 4L),
      (2L, 10L, 1L), (2L, 11L, 2L), (2L, 12L, 3L), (2L, 13L, 4L),
      (3L, 10L, 1L), (3L, 11L, 2L), (3L, 12L, 3L), (3L, 13L, 4L),
      (4L, 10L, 1L), (4L, 11L, 2L))
    val b = run(
      // q1: identical; q2: reversed; q3: swap ranks of docs 10/11
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L), (1L, 13L, 4L),
      (2L, 10L, 4L), (2L, 11L, 3L), (2L, 12L, 2L), (2L, 13L, 1L),
      (3L, 10L, 2L), (3L, 11L, 1L), (3L, 12L, 3L), (3L, 13L, 4L),
      (4L, 10L, 1L)) // q4 shares only one doc -> drops
    val out = graft.operators.Relevance
      .kendallTauByQuery(a, b, k = 10)
      .orderBy("query_id")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 4L, 6L, 0L, 1.0),
      (2L, 4L, 0L, 6L, -1.0),
      (3L, 4L, 5L, 1L, 0.6667)))
    val bad = run((1L, 10L, 0L), (1L, 11L, 2L))
    val e = intercept[Exception] {
      graft.operators.Relevance.kendallTauByQuery(a, bad, k = 10)
        .collect()
    }
    assert(e.getMessage.contains("rank must be >= 1"))
  }

  test("expansionFromFeedback: hand-computed micro-int tf/dl weights, " +
    "query terms excluded, lexicographic tiebreak") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b q"), (2L, "a c q"), (3L, "z z z z z")
    ).toDF("doc_id", "text") // doc 3 is NOT in the feedback set
    val fb = Seq((1L, 4L), (2L, 3L)).toDF("doc_id", "doc_len")
    val out = graft.operators.Relevance
      .expansionFromFeedback(docs, fb, Seq("q"), fbTerms = 2)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // a: 2/4 -> 500000 (doc1) + 1/3 -> 333333 (doc2) = 833333, 2 docs
    // c: 1/3 -> 333333; b: 1/4 -> 250000; 'q' excluded; 'z' not fed back
    assert(out == Seq(("a", 1L, 2L, 833333L, 0.833333),
      ("c", 2L, 1L, 333333L, 0.333333)))
  }

  test("prfExpansionTerms end-to-end: five fresh terms off the fixture " +
    "BM25 feedback docs, none from the query") {
    val out = graft.operators.Relevance.prfExpansionTerms(
      Tables.documents(spark, "/root/testdata/sf0.001"),
      Seq("spark", "join", "window"), fbDocs = 10, fbTerms = 5)
      .collect()
    assert(out.length == 5)
    val terms = out.map(_.getString(0)).toSet
    assert(terms.intersect(Set("spark", "join", "window")).isEmpty)
    assert(out.map(_.getLong(1)).toSeq == (1L to 5L))
  }

  test("rm3WeightedTerms: original terms carry (1-alpha)/|Q| micro " +
    "weights, expansion weights sum to ~alpha, idf4 positive") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val wt = graft.operators.Relevance.rm3WeightedTerms(docs,
        Seq("spark", "join", "window"), fbDocs = 10, fbTerms = 5,
        alpha = 0.5)
      .as[(String, Long, Long)].collect().toSeq
    assert(wt.length == 8 && wt.map(_._1).distinct.length == 8)
    val (orig, exp) = wt.partition(t =>
      Set("spark", "join", "window")(t._1))
    assert(orig.length == 3 && orig.forall(_._2 == 1667L)) // 1e4/2/3
    // expansion micro weights partition alpha up to per-term rounding
    assert(math.abs(exp.map(_._2).sum - 5000L) <= exp.length)
    assert(wt.forall(_._3 > 0L))
  }

  test("rm3Rescore: a doc with NO query term ranks via an expansion " +
    "term, and integer scoring is faithful to the rational BM25 form") {
    import spark.implicits._
    // q only in docs 1-2 (the feedback set); doc 3 carries only the
    // co-occurring expansion term; doc 4 is noise
    val docs = Seq(
      (1L, "q q banana banana split"),
      (2L, "q banana smoothie"),
      (3L, "banana banana banana bread"),
      (4L, "completely unrelated noise words here")
    ).toDF("doc_id", "text")
    val wt = graft.operators.Relevance.rm3WeightedTerms(docs, Seq("q"),
      fbDocs = 2, fbTerms = 1, alpha = 0.5)
    assert(wt.where(col("term") === "banana").count() == 1)
    val out = graft.operators.Relevance
      .rm3Rescore(docs, wt, topK = 10)
      .orderBy("rank")
      .select("doc_id", "rank", "score12")
      .as[(Long, Long, Long)].collect().toSeq
    val ids = out.map(_._1).toSet
    assert(ids.contains(3L), "expansion-only doc must score")
    assert(!ids.contains(4L), "no-term doc must not score")
    // faithful to the rational form: recompute doc 3's score by hand
    // (T = 17 tokens over 4 docs, N = 4, dl = 4, one term 'banana'
    // with tf = 3)
    val wtRow = wt.where(col("term") === "banana")
      .as[(String, Long, Long)].collect().head
    val (tf, tt, dl, nn) = (3L, 17L, 4L, 4L)
    val den = 20L * tf * tt + 6L * tt + 18L * dl * nn
    val tfsat4 = (44L * tf * tt * 20000L + den) / (2L * den)
    val expected3 = wtRow._2 * wtRow._3 * tfsat4
    assert(out.find(_._1 == 3L).get._3 == expected3)
  }

  test("rm3 duplicate-term discipline: a repeated query token folds " +
    "into ONE weighted row with summed weight, and rm3Rescore folds " +
    "duplicate input rows instead of fanning tf out per duplicate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "q q banana banana split"),
      (2L, "q banana smoothie"),
      (3L, "banana banana banana bread"),
      (4L, "completely unrelated noise words here")
    ).toDF("doc_id", "text")
    // repeated query token: RM3's original-query model gives 'q'
    // count(q)/|Q| of the (1-alpha) mass — one row, double weight
    val wtDup = graft.operators.Relevance.rm3WeightedTerms(docs,
      Seq("q", "q", "banana"), fbDocs = 2, fbTerms = 1, alpha = 0.5)
    val rows = wtDup.as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows.size == wtDup.count(), "one row per term")
    assert(rows("q")._1 == 2 * 1667L, // 2 × round(1e4·0.5/3)
      s"repeated token must carry summed weight; got ${rows("q")}")
    // rescore must be invariant to duplicate rows in the term table:
    // (t, w4) ++ (t, w4) scores exactly like the folded (t, 2·w4) —
    // pre-fix, the duplicate also DOUBLED tf via the join fan-out
    val wt1 = Seq(("banana", 100L, 5000L)).toDF("term", "w4", "idf4")
    val wt2 = Seq(("banana", 100L, 5000L), ("banana", 100L, 5000L))
      .toDF("term", "w4", "idf4")
    val wtFolded = Seq(("banana", 200L, 5000L))
      .toDF("term", "w4", "idf4")
    def scores(wt: org.apache.spark.sql.DataFrame) =
      graft.operators.Relevance.rm3Rescore(docs, wt, topK = 10)
        .select("doc_id", "score12").as[(Long, Long)].collect()
        .toMap
    val (s1, s2, sf) = (scores(wt1), scores(wt2), scores(wtFolded))
    assert(s2 == sf, s"duplicate rows must fold, not fan out: $s2 vs $sf")
    assert(s2 == s1.map { case (k, v) => k -> 2 * v },
      "folded duplicate = exactly 2× the single-row score")
  }
}
