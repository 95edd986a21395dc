package graft

import org.apache.spark.sql.functions._
import graft.operators.Dsir

/** DSIR importance scores (q162): target-looking documents outrank
  * raw-only documents, smoothing keeps unseen buckets finite, and the
  * keep set is exactly topK. */
class DsirSpec extends SparkSuite {
  import spark.implicits._

  test("docs written in the target vocabulary outscore docs written " +
    "in the off-target vocabulary; keep set is exactly topK") {
    val target = (1 to 10).map(i =>
      (i.toLong, "alpha beta gamma delta", "en"))
    val offTgt = (11 to 20).map(i =>
      (i.toLong, "zeta eta theta iota", "de"))
    // two UNLABELED probes: one target-voiced, one off-target-voiced
    val probes = Seq((21L, "alpha beta gamma delta", "fr"),
      (22L, "zeta eta theta iota", "fr"))
    val docs = (target ++ offTgt ++ probes)
      .toDF("doc_id", "text", "lang")
    val out = Dsir.dsirScores(docs, col("lang") === "en",
        buckets = 64, topK = 5)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getLong(3))).toMap
    // the target-voiced probe must outscore the off-target probe
    assert(out(21L)._1 > out(22L)._1)
    // every target-vocab doc outscores every off-target-vocab doc
    val tScores = (1 to 10).map(i => out(i.toLong)._1)
    val oScores = (11 to 20).map(i => out(i.toLong)._1)
    assert(tScores.min > oScores.max)
    // exactly topK kept, and all kept are target-voiced
    val kept = out.filter(_._2._2 == 1L).keys.toSet
    assert(kept.size == 5)
    assert(kept.forall(id => id <= 10L || id == 21L))
  }

  test("the planner sizes the top-k join: a topK past the broadcast " +
    "threshold shuffles, a small topK still broadcasts") {
    val docs = Seq((1L, "alpha beta", "en"), (2L, "gamma delta", "de"))
      .toDF("doc_id", "text", "lang")
    // BroadcastExchanges whose rows carry the top-ids side's flag
    def topIdsBroadcasts(topK: Int) = Dsir.dsirScores(docs,
        col("lang") === "en", buckets = 16, topK = topK)
      .queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.output.exists(_.name == "_in_top") => b
      }
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(topIdsBroadcasts(100000000).isEmpty)
      assert(topIdsBroadcasts(100).size == 1) // q162's topK
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("a blank document scores null log_weight, zero tokens, never " +
    "kept") {
    val docs = Seq((1L, "alpha beta", "en"), (2L, "", "en"))
      .toDF("doc_id", "text", "lang")
    val out = Dsir.dsirScores(docs, col("lang") === "en",
        buckets = 16, topK = 10)
      .orderBy("doc_id").collect()
    assert(out(1).isNullAt(2) && out(1).getLong(1) == 0L &&
      out(1).getLong(3) == 0L)
    assert(!out(0).isNullAt(2) && out(0).getLong(3) == 1L)
  }
}
