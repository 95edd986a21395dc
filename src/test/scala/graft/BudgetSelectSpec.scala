package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{BudgetSelect, Ranks}

/** Distributed prefix scan: exact agreement with the naive
  * single-partition global window, on data spread across many input
  * partitions with duplicate order-key prefixes. */
class BudgetSelectSpec extends SparkSuite {
  import spark.implicits._

  test("Ranks.prefixSums equals the global-window cumsum") {
    // keys deliberately collide on `grp` so range boundaries land
    // inside runs of equal first-order keys; id breaks ties
    val df = spark.range(0, 1000).repartition(13)
      .select(col("id"),
        (col("id") % 7).as("grp"),
        ((col("id") * 37) % 101 + 1).as("v"))
    val dist = Ranks.prefixSums(df,
      Seq(col("grp").desc, col("id").asc), Seq("cum" -> col("v")),
      numPartitions = 8)
    val naive = df.withColumn("cum",
      sum(col("v")).over(Window.orderBy(col("grp").desc, col("id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val a = dist.select("id", "cum").as[(Long, Long)].collect().toMap
    val b = naive.select("id", "cum").as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("budget selection: greedy prefix semantics and determinism") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = BudgetSelect.selectByTokenBudget(docs, 3000L)
      .orderBy("cum_tokens").collect()
    assert(out.nonEmpty)
    // inclusive budget: last kept row fits, totals are monotone
    assert(out.last.getLong(3) <= 3000L)
    val cums = out.map(_.getLong(3)).toSeq
    assert(cums == cums.sorted)
    // quality is non-increasing along the kept prefix
    val quals = out.map(_.getDouble(1)).toSeq
    assert(quals.zip(quals.tail).forall { case (x, y) => x >= y })
    // stable across runs (range partitioner sampling is seeded)
    val again = BudgetSelect.selectByTokenBudget(docs, 3000L)
      .orderBy("cum_tokens").collect()
    assert(out.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("degenerate budgets") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(BudgetSelect.selectByTokenBudget(docs, 0L).isEmpty)
    val total = docs.select(
      sum(graft.functions.TextFns.tokenCount(col("text")).cast("long")))
      .head().getLong(0)
    assert(BudgetSelect.selectByTokenBudget(docs, total).count() ==
      docs.count())
  }
}
