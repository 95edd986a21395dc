package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import graft.operators.EventSeries

/** Round-7 series pack: recursive EMA/MACD, drawdown, pairwise return
  * correlation, market beta (q142-q145). */
class SeriesRiskSpec extends SparkSuite {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private def barsDf(rows: Seq[(Long, String, Double)]) =
    rows.toDF("user_id", "date_s", "close")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("close"))

  /** The reference recurrence, folded sequentially — the semantics both
    * the engine scan and the DuckDB list_reduce oracle must agree with. */
  private def refEmaMacd(closes: Seq[Double], fast: Int = 12,
                         slow: Int = 26, sig: Int = 9)
      : Seq[(Double, Double, Double, Double, Double)] = {
    val aF = 2.0 / (fast + 1); val bF = 1.0 - aF
    val aS = 2.0 / (slow + 1); val bS = 1.0 - aS
    val aG = 2.0 / (sig + 1); val bG = 1.0 - aG
    var e12 = 0.0; var e26 = 0.0; var s9 = 0.0
    closes.zipWithIndex.map { case (c, i) =>
      if (i == 0) { e12 = c; e26 = c; s9 = 0.0 }
      else {
        e12 = aF * c + bF * e12
        e26 = aS * c + bS * e26
        s9 = aG * (e12 - e26) + bG * s9
      }
      val macd = e12 - e26
      (e12, e26, macd, s9, macd - s9)
    }
  }

  private def r4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("emaMacd matches the sequential reference fold per key, on " +
    "shuffled input order") {
    val aCloses = Seq(100.0, 102.0, 101.0, 105.0, 104.0, 108.0, 107.5)
    val bCloses = Seq(50.0, 49.0, 52.0)
    val rows = (aCloses.zipWithIndex.map { case (c, i) =>
      (1L, f"2024-01-${i + 1}%02d", c)
    } ++ bCloses.zipWithIndex.map { case (c, i) =>
      (2L, f"2024-01-${i + 1}%02d", c)
    })
    val shuffled = scala.util.Random.shuffle(rows)
    val out = EventSeries.emaMacd(barsDf(shuffled))
      .orderBy("user_id", "date")
      .select("user_id", "ema_fast", "ema_slow", "macd", "macd_signal",
        "macd_hist")
      .as[(Long, Double, Double, Double, Double, Double)].collect()

    val expA = refEmaMacd(aCloses)
    val expB = refEmaMacd(bCloses)
    val exp = expA.map(t => (1L, r4(t._1), r4(t._2), r4(t._3), r4(t._4),
      r4(t._5))) ++ expB.map(t => (2L, r4(t._1), r4(t._2), r4(t._3),
      r4(t._4), r4(t._5)))
    assert(out.toSeq == exp)
  }

  test("emaMacd seeds each key at its first close: macd/signal/hist 0") {
    val out = EventSeries.emaMacd(barsDf(Seq(
        (7L, "2024-03-01", 42.5), (7L, "2024-03-02", 43.0))))
      .orderBy("date").collect()
    val first = out.head
    assert(first.getDouble(3) == 42.5 && first.getDouble(4) == 42.5)
    assert(first.getDouble(5) == 0.0 && first.getDouble(6) == 0.0 &&
      first.getDouble(7) == 0.0)
  }

  test("drawdown: peak is the running max, max_drawdown the running " +
    "min of the rounded drawdown") {
    val out = EventSeries.drawdown(barsDf(Seq(
        (1L, "2024-01-01", 100.0), (1L, "2024-01-02", 110.0),
        (1L, "2024-01-03", 99.0), (1L, "2024-01-04", 104.5),
        (1L, "2024-01-05", 88.0))))
      .orderBy("date")
      .select("peak", "drawdown_pct", "max_drawdown_pct")
      .as[(Double, Double, Double)].collect()
    assert(out.toSeq == Seq(
      (100.0, 0.0, 0.0),
      (110.0, 0.0, 0.0),
      (110.0, -10.0, -10.0),
      (110.0, -5.0, -10.0),
      (110.0, -20.0, -20.0)))
  }

  test("pairCorrelation: perfectly correlated and anti-correlated " +
    "pairs hit ±1; minDays drops thin overlaps") {
    val staged = Seq(
      (1L, "2024-01-01", 1.0), (1L, "2024-01-02", 2.0),
      (1L, "2024-01-03", 3.0),
      (2L, "2024-01-01", 2.0), (2L, "2024-01-02", 4.0),
      (2L, "2024-01-03", 6.0),
      (3L, "2024-01-01", -1.0), (3L, "2024-01-02", -2.0),
      (3L, "2024-01-03", -3.0),
      (4L, "2024-01-01", 9.0) // one day only — below minDays
    ).toDF("user_id", "date_s", "pct_change")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("pct_change"))
    val out = EventSeries.pairCorrelation(staged, minDays = 2)
      .orderBy("user_a", "user_b")
      .select("user_a", "user_b", "n_days", "ret_corr")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.toSeq == Seq(
      (1L, 2L, 3L, 1.0), (1L, 3L, 3L, -1.0), (2L, 3L, 3L, -1.0)))
  }

  test("marketBeta: a key moving at 2x an equal-weight market of two " +
    "symmetric keys gets beta 2 against it") {
    // market = avg(a, b); construct b = -a so market ≡ 0? that kills
    // var_pop. Instead: a = 2m, b = 0 with market m = (a+b)/2 = a/2.
    // a's beta vs m: cov(2m, m)/var(m) = 2; b's beta: 0.
    val staged = Seq(
      (1L, "2024-01-01", 2.0), (1L, "2024-01-02", 4.0),
      (1L, "2024-01-03", -2.0),
      (2L, "2024-01-01", 0.0), (2L, "2024-01-02", 0.0),
      (2L, "2024-01-03", 0.0)
    ).toDF("user_id", "date_s", "pct_change")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("pct_change"))
    val out = EventSeries.marketBeta(staged, minDays = 3)
      .orderBy("user_id")
      .select("user_id", "n_days", "beta", "alpha")
      .as[(Long, Long, Double, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(out.forall(_._2 == 3L))
    assert(math.abs(out(0)._3 - 2.0) < 1e-9 &&
      math.abs(out(0)._4) < 1e-9)
    assert(math.abs(out(1)._3) < 1e-9 && math.abs(out(1)._4) < 1e-9)
  }

  test("stochastic %K: warm-up nulls until the period fills, then " +
    "(close-lo)/(hi-lo); flat range -> null") {
    import graft.functions.WindowFns
    val df = Seq(
      (1L, 1, 10.0, 10.0, 10.0), (1L, 2, 20.0, 12.0, 18.0),
      (1L, 3, 18.0, 14.0, 16.0), (1L, 4, 19.0, 15.0, 19.0),
      (2L, 1, 5.0, 5.0, 5.0), (2L, 2, 5.0, 5.0, 5.0),
      (2L, 3, 5.0, 5.0, 5.0)
    ).toDF("user_id", "t", "high", "low", "close")
    val w = WindowFns.series(col("user_id"), col("t"))
    val out = df.withColumn("k",
        IndicatorColumnForms.stochasticK(col("high"), col("low"),
          col("close"), w, period = 3))
      .orderBy("user_id", "t").select("k")
      .as[Option[Double]].collect().toSeq
    // key 1: rows 1-2 warm up; row 3: lo=10 hi=20 c=16 -> 60; row 4:
    // lo=12 hi=20 c=19 -> 87.5. key 2: flat range -> null after warmup
    assert(out == Seq(None, None, Some(60.0), Some(87.5),
      None, None, None))
  }

  test("obv accumulates signed volume with a 0 seed and flat days") {
    import graft.functions.{Indicators, WindowFns}
    val df = Seq(
      (1L, 1, 10.0, 100L), (1L, 2, 12.0, 50L), (1L, 3, 12.0, 70L),
      (1L, 4, 11.0, 30L), (1L, 5, 13.0, 20L)
    ).toDF("user_id", "t", "close", "volume")
    val w = WindowFns.series(col("user_id"), col("t"))
    val out = df.withColumn("obv",
        Indicators.obv(col("close"), col("volume"), w))
      .orderBy("t").select("obv").as[Long].collect().toSeq
    assert(out == Seq(0L, 50L, 50L, 20L, 40L))
  }

  test("rollingActiveUsers counts distinct users visible in the " +
    "trailing window, only for observed dates") {
    val ev = Seq(
      (1L, "2024-01-01"), (2L, "2024-01-01"),
      (1L, "2024-01-03"), (3L, "2024-01-03"),
      (2L, "2024-01-10")
    ).map { case (u, dt) =>
      (u, java.sql.Timestamp.valueOf(dt + " 12:00:00"))
    }.toDF("user_id", "ts")
    val out = EventSeries.rollingActiveUsers(ev, windowDays = 7)
      .orderBy("date").as[(String, Long)].collect().toSeq
    // 01-01: {1,2}; 01-03: {1,2,3} (01-01 within 7d); 01-10: {2} only
    // (01-03 activity is 7 days back, outside [01-04, 01-10])
    assert(out == Seq(("2024-01-01", 2L), ("2024-01-03", 3L),
      ("2024-01-10", 1L)))
  }

  test("rfmSegments: exact decimal monetary, total-order ntiles, " +
    "segment string") {
    val ev = Seq(
      (1L, "2024-01-01", 10.0), (1L, "2024-01-05", 10.0),
      (2L, "2024-01-10", 1.0),
      (3L, "2024-01-02", 100.0), (3L, "2024-01-02", 100.0),
      (3L, "2024-01-02", 100.0)
    ).map { case (u, dt, v) =>
      (u, java.sql.Timestamp.valueOf(dt + " 12:00:00"), v)
    }.toDF("user_id", "ts", "value")
    val out = EventSeries.rfmSegments(ev, buckets = 2)
      .orderBy("user_id")
      .select("user_id", "recency", "frequency", "monetary", "segment")
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    // anchor 01-10. u1: recency 5, f 2, m 20; u2: 0, 1, 1; u3: 8, 3, 300
    // r ntile2 order (0,u2),(5,u1),(8,u3) -> u2=1,u1=1? ntile(2) over 3
    // rows: first 2 rows bucket 1 -> u2,u1 =1; u3=2
    // f desc: u3(3),u1(2),u2(1) -> u3=1,u1=1,u2=2
    // m desc: u3,u1,u2 -> u3=1,u1=1,u2=2
    assert(out == Seq(
      (1L, 5L, 2L, 20.0, "1-1-1"),
      (2L, 0L, 1L, 1.0, "1-2-2"),
      (3L, 8L, 3L, 300.0, "2-1-1")))
  }

  test("gapFill synthesizes missing calendar days, forward-fills " +
    "close, zeroes volume, flags gaps") {
    val in = Seq((1L, "2024-01-01", 10.0), (1L, "2024-01-02", 12.0),
        (1L, "2024-01-04", 14.0))
      .toDF("user_id", "date_s", "close")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("close"))
      .withColumn("volume", lit(7L))
    val out = EventSeries.gapFill(in).orderBy("date")
      .select("close_ffill", "volume", "is_gap")
      .as[(Double, Long, Long)].collect().toSeq
    assert(out == Seq((10.0, 7L, 0L), (12.0, 7L, 0L), (12.0, 0L, 1L),
      (14.0, 7L, 0L)))
  }

  test("momentumQuintiles buckets per date by trailing return and " +
    "averages the next-day return per bucket") {
    // 4 users, 3 days, lookback 1, 2 buckets. Day-2 momentum ranks
    // u1..u4 by day1->day2 return; day-3 returns are the next_ret.
    val in = Seq(
      (1L, "2024-01-01", 100.0), (1L, "2024-01-02", 120.0), // +20%
      (2L, "2024-01-01", 100.0), (2L, "2024-01-02", 110.0), // +10%
      (3L, "2024-01-01", 100.0), (3L, "2024-01-02", 105.0), // +5%
      (4L, "2024-01-01", 100.0), (4L, "2024-01-02", 90.0),  // -10%
      (1L, "2024-01-03", 132.0), // next_ret day2 u1 = +10%
      (2L, "2024-01-03", 132.0), // u2 = +20%
      (3L, "2024-01-03", 84.0),  // u3 = -20%
      (4L, "2024-01-03", 99.0)   // u4 = +10%
    ).toDF("user_id", "date_s", "close")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("close"))
    val out = EventSeries.momentumQuintiles(in, lookback = 1,
        buckets = 2)
      .where(col("date") === "2024-01-02")
      .orderBy("quintile")
      .select("quintile", "n_users", "avg_next_ret")
      .as[(Long, Long, Double)].collect().toSeq
    // bucket 1 = {u1 (+20%), u2 (+10%)} -> avg(10, 20) = 15
    // bucket 2 = {u3 (+5%), u4 (-10%)} -> avg(-20, 10) = -5
    assert(out == Seq((1L, 2L, 15.0), (2L, 2L, -5.0)))
  }

  test("returnAutocorr: an alternating-sign series has lag-1 " +
    "autocorr -1 and lag-2 autocorr +1") {
    val rets = Seq.tabulate(12)(i => if (i % 2 == 0) 1.0 else -1.0)
    val staged = rets.zipWithIndex.map { case (r, i) =>
      (1L, f"2024-01-${i + 1}%02d", r)
    }.toDF("user_id", "date_s", "pct_change")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("pct_change"))
    val out = EventSeries.returnAutocorr(staged, maxLag = 2, minN = 5)
      .orderBy("lag").select("lag", "autocorr")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, -1.0), (2L, 1.0)))
  }

  test("volumeAnomalies: the baseline excludes the current row, so a " +
    "single spike after a flat run flags itself") {
    // 4-day baseline of 10s (sd 0 -> null z), then jitter so sd>0,
    // then a spike
    val vols = Seq(10L, 10L, 12L, 10L, 11L, 10L, 50L)
    val bars = vols.zipWithIndex.map { case (v, i) =>
      (1L, f"2024-01-${i + 1}%02d", 100.0, v)
    }.toDF("user_id", "date_s", "close", "volume")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("close"), col("volume"))
    val out = EventSeries.volumeAnomalies(bars, period = 4,
        zThreshold = 3.0)
      .orderBy("date").select("vol_z", "is_anomaly")
      .as[(Option[Double], Option[Long])].collect().toSeq
    // rows 1-4: warm-up (count < 4) -> null; row 5: baseline
    // {10,10,12,10} sd>0 -> small z; row 7: baseline {12,10,11,10}
    // mean 10.75 sd ~0.957 -> z ~41 -> anomaly
    assert(out.take(4).forall(_._1.isEmpty))
    assert(out(4)._2.contains(0L))
    assert(out(6)._1.exists(_ > 3.0) && out(6)._2.contains(1L))
  }

  test("flesch reading ease: hand-computed counts on a known sentence") {
    import graft.functions.TextFns
    val df = Seq((1L, "The cat sat. The dog ran!")).toDF("id", "text")
    val out = df.select(
        TextFns.tokenCount(col("text")).as("w"),
        TextFns.sentenceCount(col("text")).as("s"),
        TextFns.syllableCount(col("text")).as("sy"),
        TextFns.fleschReadingEase(col("text")).as("f"))
      .as[(Int, Long, Long, Double)].head()
    // words 6, sentences 2, syllables: e,a,a,e,o,a = 6
    assert(out._1 == 6 && out._2 == 2L && out._3 == 6L)
    // 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert(math.abs(out._4 - 119.19) < 1e-9)
  }

  test("donchian: prior-window channel, breakout signals, warm-up " +
    "nulls") {
    import graft.functions.{Indicators, WindowFns}
    val df = Seq(
      (1L, 1, 10.0, 8.0, 9.0), (1L, 2, 11.0, 9.0, 10.0),
      (1L, 3, 12.0, 10.0, 11.5), // channel {rows 1,2}: up 11, lo 8
      (1L, 4, 12.5, 7.0, 7.5)    // channel {rows 2,3}: up 12, lo 9
    ).toDF("user_id", "t", "high", "low", "close")
    val w = WindowFns.series(col("user_id"), col("t"))
    val (u, l, s) = Indicators.donchian(col("high"), col("low"),
      col("close"), w, period = 2)
    val out = df.select(u.as("u"), l.as("l"), s.as("s"))
      .orderBy(col("u").asc_nulls_first)
      .collect()
    val byT = df.withColumn("u", u).withColumn("l", l)
      .withColumn("s", s).orderBy("t")
      .select("u", "l", "s")
      .as[(Option[Double], Option[Double], Option[Long])]
      .collect().toSeq
    assert(byT(0) == ((None, None, None)))
    assert(byT(1) == ((None, None, None)))
    assert(byT(2) == ((Some(11.0), Some(8.0), Some(1L))))  // breakout up
    assert(byT(3) == ((Some(12.0), Some(9.0), Some(-1L)))) // breakdown
    assert(out.nonEmpty)
  }

  test("weekly vwap equals sum(close*volume)/sum(volume) per week") {
    val in = Seq(
      (1L, "2024-01-01", 10.0, 2L), (1L, "2024-01-03", 20.0, 6L),
      (1L, "2024-01-08", 30.0, 4L))
      .toDF("user_id", "date_s", "close", "volume")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("close"), col("volume"))
    val out = in.groupBy(col("user_id"),
        date_trunc("week", col("date")).as("wk"))
      .agg(round(sum(col("close") * col("volume"))
        / sum(col("volume")), 4).as("vwap"))
      .orderBy("wk").select("vwap").as[Double].collect().toSeq
    // week of 01-01: (10*2 + 20*6)/8 = 17.5; week of 01-08: 30
    assert(out == Seq(17.5, 30.0))
  }

  test("emaMacd plan: exactly one Exchange (the key repartition) " +
    "before the scan") {
    val plan = EventSeries.emaMacd(barsDf(Seq((1L, "2024-01-01", 1.0))))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 Exchange, plan:\n$plan")
  }

  private def hlcDf(rows: Seq[(Long, String, Double, Double, Double)]) =
    rows.toDF("user_id", "date_s", "high", "low", "close")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("high"), col("low"), col("close"))

  test("keltner matches a sequential reference scan (EMA of typical " +
    "price, ring-buffer ATR), per key, on shuffled input") {
    val emaSpan = 3; val atrP = 2; val mult = 2.0
    val hlc = Seq((10.0, 8.0, 9.0), (11.0, 9.0, 10.5), (12.0, 10.0, 11.0),
      (11.5, 10.5, 10.8), (12.5, 11.0, 12.0))
    val rows = hlc.zipWithIndex.map { case ((h, l, c), i) =>
      (3L, f"2024-05-${i + 1}%02d", h, l, c)
    } ++ Seq((4L, "2024-05-01", 5.0, 4.0, 4.5)) // 1-row key: no ATR
    val out = EventSeries.keltner(hlcDf(scala.util.Random.shuffle(rows)),
        emaSpan, atrP, mult)
      .orderBy("user_id", "date")
      .select("user_id", "center", "upper", "lower")
      .as[(Long, Double, Option[Double], Option[Double])].collect()

    // reference scan
    val a = 2.0 / (emaSpan + 1); val b = 1.0 - a
    var e = 0.0; var prevC = Double.NaN
    val trs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val exp = hlc.zipWithIndex.map { case ((h, l, c), i) =>
      val tp = (h + l + c) / 3
      if (i == 0) { e = tp } else { e = a * tp + b * e }
      val tr = if (prevC.isNaN) h - l
               else math.max(h - l,
                 math.max(math.abs(h - prevC), math.abs(l - prevC)))
      prevC = c
      trs += tr
      val atr4 = if (trs.size >= atrP)
        Some(r4(trs.takeRight(atrP).sum / atrP)) else None
      (3L, r4(e), atr4.map(x => r4(e + mult * x)),
        atr4.map(x => r4(e - mult * x)))
    } :+ { val tp0 = (5.0 + 4.0 + 4.5) / 3
      (4L, r4(tp0), None: Option[Double], None: Option[Double]) }
    assert(out.toSeq == exp)
  }

  test("keltner plan: one Exchange total (ATR rides the EMA scan)") {
    val plan = EventSeries.keltner(hlcDf(Seq(
        (1L, "2024-01-01", 2.0, 1.0, 1.5))))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 Exchange, plan:\n$plan")
  }

  test("holt matches a sequential double-smoothing reference per key " +
    "on shuffled input; single-row key emits (y, 0, y)") {
    val alpha = 0.5; val beta = 0.3
    val ys = Seq(10.0, 12.0, 11.0, 14.0, 13.5, 15.0)
    val rows = ys.zipWithIndex.map { case (y, i) =>
      (7L, f"2024-08-${i + 1}%02d", y)
    } ++ Seq((8L, "2024-08-01", 42.0))
    val df = scala.util.Random.shuffle(rows)
      .toDF("user_id", "date_s", "close")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("close"))
    val out = EventSeries.holt(df, alpha, beta)
      .orderBy("user_id", "date")
      .select("user_id", "level", "trend", "forecast")
      .as[(Long, Double, Double, Double)].collect()
    var l = 0.0; var b = 0.0
    val exp = ys.zipWithIndex.map { case (y, i) =>
      if (i == 0) { l = y; b = 0.0 }
      else {
        val lNew = alpha * y + (1.0 - alpha) * (l + b)
        b = beta * (lNew - l) + (1.0 - beta) * b
        l = lNew
      }
      (7L, l, b, l + b)
    } :+ ((8L, 42.0, 0.0, 42.0))
    assert(out.toSeq == exp)
  }

  test("holt plan: one Exchange total (single sorted scan per key)") {
    val df = Seq((1L, "2024-01-01", 2.0)).toDF("user_id", "date_s", "close")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("close"))
    val plan = EventSeries.holt(df).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 Exchange, plan:\n$plan")
  }

  test("riskSummary: hand-computed Sharpe/Sortino on a tiny return " +
    "stream; minDays filter binds; all-positive returns null out " +
    "sortino's downside deviation") {
    val rets = Seq(1.0, -2.0, 0.5, 3.0, -1.5, 0.0, 2.0, -0.5, 1.0, 0.5)
    val staged = rets.zipWithIndex.map { case (r, i) =>
      (1L, f"2024-06-${i + 2}%02d", 100.0, r)
    } ++ Seq((2L, "2024-06-02", 50.0, 1.0)) // below minDays
    val df = staged.toDF("user_id", "date_s", "close", "pct_change")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("close"), col("pct_change"))
    val out = EventSeries.riskSummary(df, minDays = 10)
      .as[(Long, Long, Double, Double, Option[Double], Option[Double])]
      .collect()
    assert(out.length == 1 && out.head._1 == 1L)
    val n = rets.size
    val m = rets.sum / n
    val v = math.sqrt(rets.map(r => (r - m) * (r - m)).sum / (n - 1))
    val dd = math.sqrt(rets.map(r => math.min(r, 0.0))
      .map(x => x * x).sum / n)
    val ann = math.sqrt(252.0)
    val (_, nd, mr, vol, sharpe, sortino) = out.head
    assert(nd == n.toLong && mr == r4(m) && vol == r4(v))
    assert(sharpe.contains(r4(m / v * ann)))
    assert(sortino.contains(r4(m / dd * ann)))
    // all-positive returns: downside deviation 0 -> sortino null
    val pos = (1 to 10).map(i => (9L, f"2024-07-${i + 1}%02d", 1.0, 0.5))
      .toDF("user_id", "date_s", "close", "pct_change")
      .select(col("user_id"), to_date(col("date_s")).as("date"),
        col("close"), col("pct_change"))
    val posOut = EventSeries.riskSummary(pos, minDays = 10)
      .select("sortino").as[Option[Double]].collect()
    assert(posOut.toSeq == Seq(None))
  }
}
