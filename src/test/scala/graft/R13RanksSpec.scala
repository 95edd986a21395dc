package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ranks

/** Round-13 scale-safety equivalence pins: every unpartitioned-window
  * rewrite must produce BIT-IDENTICAL values to the single-partition
  * form it replaces (the driver re-hashes every declared query against
  * the DuckDB oracle). [[Ranks.prefixSums]] / [[Ranks.distributedNtile]]
  * are pinned against the global-window originals on data that
  * exercises the edge cases: N % buckets ≠ 0, N < buckets, negative
  * addends (the sweep-line delta), ties in the running-sum order, and
  * several forced partition counts (including more partitions than
  * rows). */
class R13RanksSpec extends SparkSuite {
  import spark.implicits._

  private def scored = {
    // pseudo-random but deterministic; ties in v on purpose
    val rows = (1 to 137).map { i =>
      (i.toLong, (i * 7919 % 97).toDouble / 3.0, (i * 31 % 7).toLong)
    }
    rows.toDF("id", "v", "x")
  }

  test("distributedNtile equals ntile over the same total order for " +
    "N % b != 0, N < b, and b = 1, at several partition counts") {
    val order = Seq(col("v").desc, col("id").asc)
    for (b <- Seq(1, 4, 10, 150); n <- Seq(2, 7)) {
      val expected = scored
        .withColumn("bkt", ntile(b).over(Window.orderBy(order: _*)))
        .select(col("id"), col("bkt")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      val got = Ranks.distributedNtile(
          scored.repartition(5), order, b, "bkt")
        .select(col("id"), col("bkt")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      // numPartitions override exercised via the session conf default;
      // also force an explicit partition count through prefixSums
      assert(got == expected, s"b=$b n=$n")
      val gotN = Ranks.prefixSums(scored, order,
          Seq("rk" -> lit(1L)), Map("rk" -> "tot"), numPartitions = n)
        .withColumn("bkt", ntile(b).over(Window.orderBy(order: _*)))
        .count()
      assert(gotN == 137L)
    }
  }

  test("prefixSums equals the global running-sum window (including " +
    "negative addends) and its totals equal sum() over ()") {
    val order = Seq(col("v").asc, col("id").asc)
    val delta = when(col("x") > 3, -col("x")).otherwise(col("x"))
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val expected = scored
      .withColumn("c", sum(delta).over(w))
      .withColumn("t", sum(delta).over(tot))
      .select(col("id"), col("c"), col("t")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val got = Ranks.prefixSums(scored.repartition(7), order,
        Seq("c" -> delta), Map("c" -> "t"), numPartitions = 4)
      .select(col("id"), col("c"), col("t")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("prefixSums with ties in the order yields the same per-tie-run " +
    "multiset of running sums (the peakConcurrency invariance)") {
    // many rows share (us, delta) — the sweep-line tie case
    val rows = Seq((10L, 1L), (10L, 1L), (10L, -1L), (5L, 1L),
      (10L, 1L), (5L, 1L), (12L, -1L), (12L, -1L), (12L, 1L))
    val df = rows.toDF("us", "delta")
    val order = Seq(col("us").asc, col("delta").asc)
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df.withColumn("cc", sum(col("delta")).over(w))
      .select(col("us"), col("delta"), col("cc")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val got = Ranks.prefixSums(df.repartition(3), order,
        Seq("cc" -> col("delta")), numPartitions = 3)
      .select(col("us"), col("delta"), col("cc")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(got == expected)
  }

  test("dsirScores top-k broadcast keep flag equals the global " +
    "row_number formulation (incl. empty-text docs scoring null)") {
    val docs = Seq(
      (1L, "the quick brown fox", "en"),
      (2L, "", "en"), // no tokens → null log_weight, never kept
      (3L, "la rapida zorro marron", "es"),
      (4L, "the quick quick fox", "en"),
      (5L, "zorro zorro zorro", "es"),
      (6L, "fox fox the the", "en")
    ).toDF("doc_id", "text", "lang")
    val got = graft.operators.Dsir.dsirScores(docs,
        isTarget = col("lang") === "en", buckets = 16, topK = 3)
      .orderBy("doc_id").collect()
    // reference: rank ALL docs by (log_weight DESC NULLS LAST, id)
    val byW = got.filter(r => !r.isNullAt(2))
      .sortBy(r => (-r.getDouble(2), r.getLong(0)))
      .map(_.getLong(0)).take(3).toSet
    got.foreach { r =>
      val expectKept = if (r.isNullAt(2)) 0L
        else if (byW.contains(r.getLong(0))) 1L else 0L
      assert(r.getLong(3) == expectKept, s"doc ${r.getLong(0)}")
    }
    assert(got.count(_.getLong(3) == 1L) == 3)
    // the empty doc surfaces with 0 tokens and null weight
    val d2 = got.find(_.getLong(0) == 2L).get
    assert(d2.getLong(1) == 0L && d2.isNullAt(2) && d2.getLong(3) == 0L)
  }

  test("a string first sort key is rejected: its numeric bucketing " +
    "would disagree with the lexicographic within-bucket order") {
    // "10" < "9" as strings but not as doubles
    val keyed = Seq(("9", 1L), ("10", 2L), ("100", 3L), ("20", 4L))
      .toDF("k", "id")
    val e1 = intercept[IllegalArgumentException](
      Ranks.distributedNtile(keyed, Seq(col("k").asc, col("id").asc), 2,
        "bkt"))
    assert(e1.getMessage.contains("string"), e1.getMessage)
    intercept[IllegalArgumentException](
      Ranks.prefixSums(keyed, Seq(col("k").desc), Seq("c" -> col("id"))))
    // numeric, date and timestamp keys pass the guard
    val dated = keyed
      .withColumn("d", expr("date_add(date'2024-01-01', cast(id AS INT))"))
      .withColumn("t", col("d").cast("timestamp"))
    for (key <- Seq("id", "d", "t")) {
      val got = Ranks.distributedRowNumber(dated,
          Seq(col(key).asc, col("id").asc), "rk")
        .orderBy("id").select("rk").as[Long].collect().toSeq
      assert(got == Seq(1L, 2L, 3L, 4L), key)
    }
  }
}
