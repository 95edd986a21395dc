package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Indicators, WindowFns}
import graft.operators.EventSeries

/** Round-12 optimization equivalence pins: every rewrite in this round
  * must produce BIT-IDENTICAL values to the formulation it replaces
  * (the driver re-hashes every declared query against the DuckDB
  * oracle), so each one is pinned against the original expression here
  * on data that exercises the edge cases (warm-up nulls, flat/zero-loss
  * windows, null inputs, count ties). */
class R12OptimizationSpec extends SparkSuite {
  import spark.implicits._

  private val w = WindowFns.series(col("k"), col("t"))

  // deterministic walk with a FLAT segment (zero-loss AND zero-gain
  // windows), a null close, and a second key
  private def series = {
    val rows = for (k <- Seq("a", "b"); t <- 1 to 50) yield {
      val v: java.lang.Double =
        if (k == "a" && t == 7) null
        else if (t >= 20 && t <= 40) 100.0 // flat: gain = loss = 0
        else 100.0 + 10 * math.sin(t / 3.0)
      (k, t, v)
    }
    rows.toDF("k", "t", "close")
  }

  test("rsiStaged equals the pure-Column rsi cell-for-cell incl. " +
    "warm-up, flat-window (avg_loss=0) and null-close rows") {
    val a = series
      .withColumn("rsi", IndicatorColumnForms.rsi(col("close"), w, 14))
      .orderBy("k", "t").select("k", "t", "rsi").collect().toSeq
    val b = Indicators.rsiStaged(series, col("close"), w, 14, "rsi")
      .orderBy("k", "t").select("k", "t", "rsi").collect().toSeq
    assert(a == b)
    // sanity: the flat segment must hit the avg_loss==0 → 100 branch
    assert(a.exists(r => !r.isNullAt(2) && r.getDouble(2) == 100.0))
  }

  test("bollingerStaged equals the pure-Column bollingerWidth " +
    "cell-for-cell incl. warm-up and null-close rows") {
    val a = series
      .withColumn("bb",
        IndicatorColumnForms.bollingerWidth(col("close"), w, 20, 2.0))
      .orderBy("k", "t").select("k", "t", "bb").collect().toSeq
    val b = Indicators.bollingerStaged(series, col("close"), w, 20, 2.0, "bb")
      .orderBy("k", "t").select("k", "t", "bb").collect().toSeq
    assert(a == b)
  }

  test("rsiStaged plans exactly one sliding-aggregate pair + one lag " +
    "(the deduped shape) where the Column form planned six + four") {
    val staged = Indicators.rsiStaged(series, col("close"), w, 14, "rsi")
      .queryExecution.executedPlan.toString
    val column = series.withColumn("rsi",
      IndicatorColumnForms.rsi(col("close"), w, 14))
      .queryExecution.executedPlan.toString
    def slidingAggs(p: String) =
      "(?:avg|count)\\([^)]*\\) windowspecdefinition".r.findAllIn(p).size
    def lags(p: String) = "lag\\(".r.findAllIn(p).size
    assert(slidingAggs(staged) == 2, s"staged plan:\n$staged")
    assert(lags(staged) == 1)
    assert(slidingAggs(column) == 6) // the duplication being removed
    assert(lags(column) == 4)
  }

  // A min_by(struct) single-agg top-1 for dailySentiment was A/B'd and
  // REJECTED (slower at 128×; see EventSeries.dailySentiment comment) —
  // this pin stays as the selection-semantics oracle for whichever
  // formulation the operator uses.
  test("dailySentiment top-1 selection matches the explicit row_number " +
    "oracle on tied counts and mixed-case types") {
    val events = Seq(
      // u1 d1: b×2, a×2 → tie on n, 'a' wins (event_type asc)
      (1L, "2024-01-01 10:00:00", "B"), (1L, "2024-01-01 11:00:00", "B"),
      (1L, "2024-01-01 12:00:00", "A"), (1L, "2024-01-01 13:00:00", "A"),
      // u1 d2: c×3 beats a×1
      (1L, "2024-01-02 10:00:00", "c"), (1L, "2024-01-02 11:00:00", "c"),
      (1L, "2024-01-02 12:00:00", "c"), (1L, "2024-01-02 13:00:00", "a"),
      // u2 d1: single event
      (2L, "2024-01-01 10:00:00", "z"))
      .toDF("user_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = EventSeries.dailySentiment(events)
      .orderBy("user_id", "date").collect().toSeq
    // the pre-r12 row_number formulation, inlined as the oracle
    val counted = events
      .groupBy(col("user_id"), to_date(col("ts")).as("date"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val rw = Window.partitionBy(col("user_id"), col("date"))
      .orderBy(col("n").desc, col("event_type").asc)
    val want = counted
      .withColumn("rn", row_number().over(rw))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("date"),
        lower(col("event_type")).as("sentiment"), col("n").as("n_events"))
      .orderBy("user_id", "date").collect().toSeq
    assert(got == want)
    assert(got.map(_.getString(2)) == Seq("a", "c", "z"))
  }

  test("dailySentiment keeps the WindowGroupLimit top-1 shape (the " +
    "128×-measured winner over the min_by single-agg form)") {
    // real fixture, not a LocalRelation: the InsertWindowGroupLimits
    // rule skips trivially-small known-row-count children
    val p = EventSeries.dailySentiment(
        Tables.events(spark, "/root/testdata/sf0.001"))
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("Tables.parallelized repartitions a one-task scan to session " +
    "parallelism and passes a well-split input through untouched") {
    // sf0.001 documents = one single-row-group file → 1 scan task
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(docs.rdd.getNumPartitions == 1)
    val par = Tables.parallelized(spark, docs)
    assert(par.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(par.queryExecution.executedPlan.toString
      .contains("Exchange RoundRobinPartitioning"))
    // already-split input (≥ half the cores): untouched, no shuffle
    val wide = spark.range(100).repartition(
      spark.sparkContext.defaultParallelism).toDF("id")
    val same = Tables.parallelized(spark, wide)
    assert(same eq wide)
    // values unchanged, one row per doc either way
    assert(par.count() == docs.count())
  }

  test("stgDailyPrices plans exactly one lag window expression (was " +
    "four identical lags before the r12 staging)") {
    val bars = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 10.0),
      (1L, java.sql.Date.valueOf("2024-01-02"), 11.0))
      .toDF("user_id", "date", "close")
    val p = EventSeries.stgDailyPrices(bars)
      .queryExecution.executedPlan.toString
    assert("lag\\(".r.findAllIn(p).size == 1, p)
  }
}
