package graft

import java.sql.Date
import org.apache.spark.sql.functions._
import graft.functions.{Indicators, WindowFns}

/** Mirrors the reference's invariant tests
  * (tests/test_feature_engineering.py:17-75) plus the convention pins
  * SURVEY §7.4 flags as silently-wrong-prone. */
class IndicatorsSpec extends SparkSuite {
  import spark.implicits._

  private def priceSeries = {
    // deterministic pseudo-random walk, two keys
    val rows = for (k <- Seq("a", "b"); t <- 1 to 60) yield {
      val base = 100.0 + 10 * math.sin(t / 3.0) + (if (k == "a") 0 else 50)
      (k, t, base + 5, base - 5, base)
    }
    rows.toDF("k", "t", "high", "low", "close")
  }
  private val w = WindowFns.series(col("k"), col("t"))

  test("volatility is non-negative and null when close is 0") {
    val df = Seq((10.0, 5.0, 7.0), (10.0, 5.0, 0.0))
      .toDF("high", "low", "close")
      .select(Indicators.volatility(col("high"), col("low"), col("close"))
        .as("v")).as[Option[Double]].collect()
    assert(df(0).exists(_ >= 0))
    assert(df(1).isEmpty) // NULLIF semantics from dashboard_views.sql:9
  }

  test("rsi stays within [0,100] and warms up null for period rows") {
    val out = priceSeries
      .withColumn("rsi", IndicatorColumnForms.rsi(col("close"), w, 14))
      .filter(col("k") === "a")
      .orderBy("t").select("rsi").as[Option[Double]].collect()
    // pandas parity: the null diff at row 1 clamps to gain=loss=0, so the
    // first valid RSI lands at row `period` (0-indexed period-1)
    assert(out.take(13).forall(_.isEmpty))
    assert(out.drop(13).forall(_.exists(v => v >= 0 && v <= 100)))
  }

  test("rsi matches a precomputed pandas vector cell-for-cell " +
    "(diff → where-clamp → rolling(min_periods=period))") {
    // pandas: prices.diff().where(delta>0,0).rolling(3).mean() etc. —
    // the NaN first diff clamps to 0 under .where (NaN > 0 is False),
    // so the first valid RSI is at 0-based index period-1 = 2
    val prices = Seq(10.0, 11.0, 10.5, 12.0, 11.8, 12.2, 13.0, 12.5,
      12.9, 13.4)
    val expected = Seq(None, None, Some(66.6667), Some(83.3333),
      Some(68.1818), Some(90.4762), Some(85.7143), Some(70.5882),
      Some(70.5882), Some(64.2857))
    val df = prices.zipWithIndex.map { case (p, i) => ("a", i, p) }
      .toDF("k", "t", "close")
    val out = df.withColumn("rsi",
      IndicatorColumnForms.rsi(col("close"), w, 3))
      .orderBy("t").select("rsi").as[Option[Double]].collect().toSeq
    assert(out == expected)
  }

  test("rsi is 100 when there are no losses") {
    val rising = (1 to 20).map(t => ("a", t, t.toDouble)).toDF("k", "t", "close")
    val out = rising.withColumn("rsi",
      IndicatorColumnForms.rsi(col("close"), w, 14))
      .orderBy("t").select("rsi").as[Option[Double]].collect()
    assert(out.last.contains(100.0))
  }

  test("atr is positive after warm-up") {
    val out = priceSeries
      .withColumn("atr",
        Indicators.atr(col("high"), col("low"), col("close"), w, 14))
      .orderBy("k", "t").select("atr").as[Option[Double]].collect()
    assert(out.take(13).forall(_.isEmpty))
    assert(out.drop(14).forall(_.forall(_ > 0)))
  }

  test("classifyVolatility matches pd.cut bins incl. boundaries and null") {
    val out = Seq(Some(0.5), Some(2.0), Some(2.01), Some(5.0), Some(5.01),
      None).toDF("v")
      .select(Indicators.classifyVolatility(col("v")).as("c"))
      .as[Option[String]].collect()
    assert(out.toSeq == Seq(Some("low"), Some("low"), Some("medium"),
      Some("medium"), Some("high"), None))
  }

  test("dayOfWeekMon0 pins the pandas convention Mon=0..Sun=6") {
    // 2024-01-01 is a Monday, 2024-01-07 a Sunday
    val out = Seq("2024-01-01", "2024-01-02", "2024-01-06", "2024-01-07")
      .map(Date.valueOf).toDF("d")
      .select(Indicators.dayOfWeekMon0(col("d")).as("dow"))
      .as[Int].collect()
    assert(out.toSeq == Seq(0, 1, 5, 6))
  }

  test("nextTradingDay skips weekends (reference predict.py:143-147)") {
    val out = Seq("2024-01-04", "2024-01-05", "2024-01-06", "2024-01-07")
      .map(Date.valueOf).toDF("d")
      .select(Indicators.nextTradingDay(col("d")).cast("string").as("n"))
      .as[String].collect()
    // Thu→Fri, Fri→Mon, Sat→Mon, Sun→Mon
    assert(out.toSeq == Seq("2024-01-05", "2024-01-08", "2024-01-08",
      "2024-01-08"))
  }

  test("moveCategory thresholds match fct_prices_with_grok.sql:16-20") {
    val out = Seq(Some(6.0), Some(-6.0), Some(3.0), Some(-2.1), Some(2.0),
      Some(0.0), None).toDF("p")
      .select(Indicators.moveCategory(col("p")).as("c")).as[String].collect()
    assert(out.toSeq == Seq("large_move", "large_move", "medium_move",
      "medium_move", "small_move", "small_move", "small_move"))
  }
}
