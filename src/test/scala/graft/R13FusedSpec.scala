package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Indicators
import graft.operators.EventSeries

/** Round-13 q18 fusion equivalence pin: the single-scan fused fact
  * model (one per-(user, day, type) aggregate; bars merged by
  * same-partition window aggregates; sentiment top-1 in the same
  * partitioning; no join) must equal
  * [[EventSeries.fctPricesWithSentiment]] cell-for-cell on data that
  * exercises the merge edge cases: dominant-type COUNT TIES (name
  * tiebreak), single-event days, a day whose open/close come from
  * different event types (the per-type partial merge must recover the
  * global arg-min/arg-max), and multi-user lag boundaries. */
class R13FusedSpec extends SparkSuite {
  import spark.implicits._

  /** The PRE-r13 two-scan q18 formulation (dailyBars branch +
    * dailySentiment branch + broadcast join), the reference the fused
    * [[EventSeries.fctPricesWithSentiment]] is pinned to. */
  private def twoScanFct(events: DataFrame): DataFrame = {
    val p = EventSeries.stgDailyPrices(EventSeries.dailyBars(events))
    val g = EventSeries.dailySentiment(events)
    p.join(broadcast(g), Seq("user_id", "date"), "left")
      .withColumn("move_category",
        Indicators.moveCategory(col("pct_change")))
  }

  /** The PRE-r13 min(struct)-based in-batch dedup (SortAggregate
    * pair), the reference Writes.dedupeByKey's row_number top-1 form
    * is pinned to. */
  private def dedupeMinStruct(incoming: DataFrame, keys: Seq[String],
                              targetCols: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val valueCols = incoming.columns.filterNot(keys.contains)
    incoming
      .groupBy(keyCols: _*)
      .agg(min(struct(valueCols.map(col).toIndexedSeq: _*)).as("_v"))
      .select(keyCols ++ valueCols.map(c => col(s"_v.$c").as(c)): _*)
      .select(targetCols.map(col).toIndexedSeq: _*)
  }

  private def ts(d: Int, h: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")

  private def events = Seq(
    // user 1, day 1: open from "view" (eid 1), close from "buy"
    // (eid 4), high/low split across types, tie 2-2 between buy/view
    (1L, 1L, ts(1, 9), "view", 10.0),
    (2L, 1L, ts(1, 10), "buy", 99.0),
    (3L, 1L, ts(1, 11), "view", 1.0),
    (4L, 1L, ts(1, 12), "buy", 50.0),
    // user 1, day 2: single event (lag crosses the day boundary)
    (5L, 1L, ts(2, 9), "click", 42.0),
    // user 2, day 1: three-way 1-1-1 tie — lexicographic min wins
    (6L, 2L, ts(1, 9), "zebra", 7.0),
    (7L, 2L, ts(1, 10), "alpha", 8.0),
    (8L, 2L, ts(1, 11), "mid", 9.0),
    // user 2, day 3: dominant type by count
    (9L, 2L, ts(3, 9), "buy", 5.0),
    (10L, 2L, ts(3, 10), "buy", 6.0),
    (11L, 2L, ts(3, 11), "view", 100.0)
  ).toDF("event_id", "user_id", "ts", "event_type", "value")

  test("fused single-scan fact model equals the pre-r13 two-scan " +
    "formulation cell-for-cell (ties, single-event days, cross-type " +
    "open/close)") {
    val cols = Seq("user_id", "date", "open", "high", "low", "close",
      "volume", "prev_close", "price_change", "pct_change",
      "sentiment", "n_events", "move_category")
    val a = twoScanFct(events)
      .select(cols.map(col): _*)
      .orderBy("user_id", "date").collect().toSeq
    val b = EventSeries.fctPricesWithSentiment(events)
      .select(cols.map(col): _*)
      .orderBy("user_id", "date").collect().toSeq
    assert(a == b)
    // sanity on the edge cases themselves
    val byKey = a.map(r => (r.getLong(0), r.getDate(1).toString) -> r).toMap
    val u1d1 = byKey((1L, "2024-01-01"))
    assert(u1d1.getDouble(2) == 10.0 && u1d1.getDouble(5) == 50.0) // open/close
    assert(u1d1.getDouble(3) == 99.0 && u1d1.getDouble(4) == 1.0)  // high/low
    assert(u1d1.getString(10) == "buy") // 2-2 tie → lexicographic min
    val u2d1 = byKey((2L, "2024-01-01"))
    assert(u2d1.getString(10) == "alpha") // 1-1-1 tie
    val u2d3 = byKey((2L, "2024-01-03"))
    assert(u2d3.getString(10) == "buy" && u2d3.getLong(11) == 2L)
  }

  test("row_number top-1 dedup (Writes.dedupeByKey r13 form, via " +
    "insertIgnore) picks the exact row min(struct(values)) picked — " +
    "null values and partial ties included") {
    import graft.operators.Writes
    val existing = Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("k", "s", "v")
    // duplicate keys: value-null vs non-null (null sorts FIRST both
    // ways), a partial tie broken by the second value column, and a
    // full tie (identical rows — either pick is the same row)
    val incoming = Seq(
      (3L, null.asInstanceOf[String], 5.0),
      (3L, "a", 1.0),
      (4L, "x", 7.0), (4L, "x", 3.0),
      (5L, "z", 9.0), (5L, "z", 9.0),
      (2L, "clash", 0.0)
    ).toDF("k", "s", "v")
    val got = Writes.insertIgnore(existing, incoming, Seq("k"))
      .orderBy("k").collect().toSeq
    val ref = existing.unionByName(
        dedupeMinStruct(incoming, Seq("k"),
            existing.columns.toIndexedSeq)
          .join(existing.select(col("k")).distinct(), Seq("k"),
            "left_anti"))
      .orderBy("k").collect().toSeq
    assert(got == ref)
    // the null-first pick is the interesting one: k=3 keeps (null, 5.0)
    val k3 = got.find(_.getLong(0) == 3L).get
    assert(k3.isNullAt(1) && k3.getDouble(2) == 5.0)
  }

  test("stochasticKStaged / williamsRStaged equal the Column forms " +
    "cell-for-cell incl. warm-up nulls and flat-range (hi == lo) rows") {
    import graft.functions.WindowFns
    val rows = for (k <- Seq("a", "b"); t <- 1 to 40) yield {
      val base = if (t >= 10 && t <= 30) 50.0 // flat range: hi == lo
        else 50.0 + 5 * math.sin(t / 2.0)
      (k, t, base + 1.0, base - 1.0, base)
    }
    val flat = rows.map { case (k, t, h, l, c) =>
      if (t >= 10 && t <= 30) (k, t, 50.0, 50.0, 50.0)
      else (k, t, h, l, c)
    }.toDF("k", "t", "high", "low", "close")
    val w = WindowFns.series(col("k"), col("t"))
    val a = flat.select(col("k"), col("t"),
        IndicatorColumnForms.stochasticK(col("high"), col("low"),
          col("close"), w, 14).as("pk"),
        IndicatorColumnForms.williamsR(col("high"), col("low"),
          col("close"), w, 14).as("wr"))
      .orderBy("k", "t").collect().toSeq
    val b = Indicators.williamsRStaged(
        Indicators.stochasticKStaged(flat, col("high"), col("low"),
          col("close"), w, 14, "pk"),
        col("high"), col("low"), col("close"), w, 14, "wr")
      .select(col("k"), col("t"), col("pk"), col("wr"))
      .orderBy("k", "t").collect().toSeq
    assert(a == b)
    // warm-up rows are null; the flat stretch must produce null %K/%R
    assert(a.take(13).forall(r => r.isNullAt(2) && r.isNullAt(3)))
    assert(a.exists(r => !r.isNullAt(2)))
    // windows ending in t 23..30 sit entirely inside the flat stretch
    val flatRows = a.filter { r =>
      val t = r.getInt(1); t >= 23 && t <= 30 && r.getString(0) == "a"
    }
    assert(flatRows.exists(r => r.isNullAt(2) && r.isNullAt(3)))
  }
}
