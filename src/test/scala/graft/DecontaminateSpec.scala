package graft

import org.apache.spark.sql.functions._
import graft.operators.Decontaminate

class DecontaminateSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.01")
  private lazy val corpus = docs.filter($"doc_id" >= 50)
  private lazy val bench = docs.filter($"doc_id" < 50)

  test("an exact copy of an eval doc scores contamination 1.0 and a " +
    "disjoint doc scores 0") {
    val evalDoc = Seq((1L, "alpha bravo charlie delta echo foxtrot golf"))
      .toDF("doc_id", "text")
    val corp = Seq(
      (100L, "alpha bravo charlie delta echo foxtrot golf"), // copy
      (101L, "one two three four five six seven eight nine")) // disjoint
      .toDF("doc_id", "text")
    val stats = Decontaminate.contaminationStats(corp, evalDoc, n = 5)
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(stats(100L)._4 == 1.0 && stats(100L)._5 == 1L)
    assert(stats(101L)._4 == 0.0 && stats(101L)._5 == 0L)
  }

  test("the benchmark index probe is a broadcast join — corpus bytes " +
    "are never shuffled by shingle") {
    val stats = Decontaminate.contaminationStats(corpus, bench, n = 5)
    val plan = stats.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast probe, plan:\n$plan")
  }

  // --- exact-substring span decontamination (Lee et al. ExactSubstr) ---

  // 26 tokens a..z as a synthetic benchmark passage
  private val abc = ('a' to 'z').map(_.toString)

  test("exactSubstrSpans finds maximal spans with exact 0-based bounds, " +
    "merges overlapping hits, and ignores sub-threshold runs") {
    val benchDf = Seq((1L, abc.mkString(" "))).toDF("doc_id", "text")
    // tokens 0-2 noise, 3-12 = a..j (10-token run), 13 noise,
    // 14-18 = a..e (5 tokens, below L=6... wait L=6: 5 < 6 → ignored)
    val corpusDf = Seq(
      (100L, ("x1 x2 x3 " + abc.take(10).mkString(" ") + " y1 " +
        abc.take(5).mkString(" ")).trim),
      (101L, "no overlap here at all with the benchmark")) // clean
      .toDF("doc_id", "text")
    val spans = Decontaminate.exactSubstrSpans(corpusDf, benchDf,
        minTokens = 6)
      .select($"doc_id", $"span_start", $"span_end")
      .as[(Long, Long, Long)].collect().toSet
    // only the 10-token run: tokens 3..12; the 5-token tail is < L
    assert(spans == Set((100L, 3L, 12L)))

    // two runs separated by one noise token stay SEPARATE spans; the
    // same two runs adjacent merge into one
    val corpus2 = Seq(
      (200L, abc.take(8).mkString(" ") + " zz " +
        abc.slice(10, 18).mkString(" ")),
      (201L, abc.take(8).mkString(" ") + " " +
        abc.slice(8, 16).mkString(" "))) // a..h + i..p = a..p contiguous
      .toDF("doc_id", "text")
    val spans2 = Decontaminate.exactSubstrSpans(corpus2, benchDf,
        minTokens = 6)
      .select($"doc_id", $"span_start", $"span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(spans2 == Set((200L, 0L, 7L), (200L, 9L, 16L),
      (201L, 0L, 15L)))
  }

  test("exactSubstrStats zero-pads clean docs and counts span tokens") {
    val benchDf = Seq((1L, abc.mkString(" "))).toDF("doc_id", "text")
    val corpusDf = Seq(
      (100L, "x1 x2 " + abc.take(10).mkString(" ") + " y1 y2"),
      (101L, "completely unrelated text tokens only")).toDF("doc_id", "text")
    val stats = Decontaminate.exactSubstrStats(corpusDf, benchDf,
        minTokens = 6)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(stats(100L) == ((100L, 14L, 1L, 10L, math.rint(10.0 / 14 *
      1e6) / 1e6)))
    assert(stats(101L) == ((101L, 5L, 0L, 0L, 0.0)))
  }

  test("exact-substring probe keeps the broadcast shape: corpus grams " +
    "never shuffle by gram, only hit rows move") {
    val spans = Decontaminate.exactSubstrSpans(corpus, bench,
      minTokens = 10)
    val plan = spans.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast gram probe, plan:\n$plan")
    // the fixture's planted near-copies give the span path real work
    assert(spans.count() > 0)
  }

  test("self exact-substring dedup keeps the FIRST occurrence and cuts " +
    "later verbatim spans, across and within docs") {
    val run = abc.take(10).mkString(" ") // 10 tokens, L=6
    val corpusDf = Seq(
      (1L, "u1 u2 " + run + " u3"),          // canonical (lowest doc_id)
      (2L, run + " v1 v2 v3 v4 v5"),         // cross-doc copy → cut
      (3L, "w1 " + run + " w2 " + run))      // copy + within-doc repeat
      .toDF("doc_id", "text")
    val stats = Decontaminate.selfExactSubstrStats(corpusDf, minTokens = 6)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(stats(1L)._3 == 0L && stats(1L)._4 == 0L) // first occurrence kept
    assert(stats(2L) == ((2L, 15L, 1L, 10L,
      math.rint(10.0 / 15 * 1e6) / 1e6)))
    // doc 3: both runs are later occurrences → 2 spans, 20 tokens
    assert(stats(3L)._3 == 2L && stats(3L)._4 == 20L)

    val cleaned = Decontaminate.selfExactSubstrClean(corpusDf,
        minTokens = 6)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(cleaned(1L) == "u1 u2 " + run + " u3") // byte-identical
    assert(cleaned(2L) == "v1 v2 v3 v4 v5")
    assert(cleaned(3L) == "w1 w2")
  }

  test("clean() removes exactly the flagged docs and keeps the rest") {
    val stats = Decontaminate.contaminationStats(corpus, bench, n = 5,
      threshold = 0.5)
    val flagged = stats.filter($"contaminated" === 1L)
      .select("doc_id").as[Long].collect().toSet
    val kept = Decontaminate.clean(corpus, bench, n = 5, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val all = corpus.select("doc_id").as[Long].collect().toSet
    assert(flagged.nonEmpty) // fixture plants real near-copies
    assert(kept == all -- flagged)
  }

  test("semanticContamination: an exact benchmark copy flags at sim 1.0, " +
    "the plan is map-side (no join, no exchange before the sort)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bench = emb.filter(col("vec_id") < 16)
    val corpus = emb.filter(col("vec_id") >= 16)
      // plant an exact copy of benchmark vector 3 as id 9001
      .unionByName(bench.filter(col("vec_id") === 3)
        .withColumn("vec_id", lit(9001L)))
    val out = Decontaminate.semanticContamination(corpus, bench,
      tau = 0.5).cache()
    assert(out.count() == corpus.count())
    val planted = out.filter(col("vec_id") === 9001L).head()
    assert(planted.getAs[Long]("nearest_bench") == 3L)
    assert(planted.getAs[Double]("bench_sim") == 1.0)
    assert(planted.getAs[Boolean]("contaminated"))
    // every flagged row really is within tau of its nearest benchmark
    assert(out.filter(col("contaminated") &&
      col("bench_sim") < 0.5).count() == 0)
    // scale shape: the benchmark rides as a literal — no Join nodes in
    // the executed plan at all
    val plan = Decontaminate.semanticContamination(corpus, bench, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join in plan:\n$plan")
  }
}
