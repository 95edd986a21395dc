package graft

import org.apache.spark.sql.functions._
import graft.operators.Sketches

class SketchesSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.01")

  test("corpusProfile computes all sketches in one aggregation (single" +
    " shuffle) and covers every language") {
    val prof = Sketches.corpusProfile(docs)
    val plan = prof.queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 1,
      s"expected exactly one shuffle, plan:\n$plan")
    val rows = prof.collect()
    assert(rows.length == docs.select("lang").distinct().count())
  }

  test("CMS heavy hitters: estimates bound the exact counts and the " +
    "top set matches the exact top-k on the fixture") {
    val toks = docs.select(
      explode(graft.functions.TextFns.tokens(col("text"))).as("token"))
    val n = toks.count()
    val eps = 0.0001
    val est = Sketches.heavyHitters(toks, "token", k = 20, eps = eps)
      .as[(String, Long)].collect()
    assert(est.length == 20)
    val exact = toks.groupBy("token").count()
      .as[(String, Long)].collect().toMap
    // CMS never undercounts; overcount ≤ eps·N (prob. 0.99 per item —
    // deterministic here because the seed is fixed)
    est.foreach { case (tok, e) =>
      val t = exact(tok)
      assert(e >= t, s"$tok est=$e < exact=$t")
      assert(e <= t + (eps * n).toLong + 1, s"$tok est=$e exact=$t")
    }
    // at this scale the overcount can't reorder the head: same token
    // SET as the exact top-20 (q77's semantics)
    val exactTop = exact.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(20).map(_._1).toSet
    assert(est.map(_._1).toSet == exactTop)
  }
}
