package graft

import org.apache.spark.sql.functions._
import graft.operators.EventSeries

/** Round-7 pattern pack (q187-q191): Aroon tie-to-latest, streak
  * islands, candlestick flags, pivot algebra, DAU/MAU — plus the gap
  * sessionizer — each pinned on hand-walked fixtures. */
class SeriesPatternsSpec extends SparkSuite {
  import spark.implicits._

  private def day(i: Int) = f"2024-03-$i%02d"

  test("aroon(3): hand-walked up/down including a tied high resolving " +
    "to the most recent bar; short windows gate to null") {
    val bars = Seq(
      (10.0, 5.0), (12.0, 6.0), (11.0, 4.0),
      (11.0, 7.0), (13.0, 8.0), (13.0, 7.0)
    ).zipWithIndex.map { case ((h, l), i) => (1L, day(i + 1), h, l) }
      .toDF("user_id", "d", "high", "low")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("high"), col("low"))
    val out = EventSeries.aroon(bars, 3).orderBy("date")
      .select("aroon_up", "aroon_down")
      .as[(Option[Double], Option[Double])].collect().toSeq
    assert(out.take(3).forall(_ == ((None, None))))
    // day4: high 12@rn2 (2 back), low 4@rn3 (1 back)
    assert(out(3) == ((Some(33.3333), Some(66.6667))))
    // day5: fresh high@rn5, low 4@rn3 two back
    assert(out(4) == ((Some(100.0), Some(33.3333))))
    // day6: highs 13@rn5 and 13@rn6 TIE → latest wins → up stays 100
    assert(out(5) == ((Some(100.0), Some(0.0))))
  }

  test("streaks: [+ + + − 0 + − −] reads longest_up 3, longest_down 2, " +
    "and flat days count toward n_days only") {
    val staged = Seq(1.0, 1.0, 1.0, -1.0, 0.0, 1.0, -1.0, -1.0)
      .zipWithIndex.map { case (pc, i) => (1L, day(i + 1), pc) }
      .toDF("user_id", "d", "price_change")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("price_change"))
    val out = EventSeries.streaks(staged)
      .as[(Long, Long, Long, Long)].head()
    assert(out == ((1L, 8L, 3L, 2L)))
  }

  test("candlePatterns: one doji, one hammer, one bearish and one " +
    "bullish engulfing on a hand-built 4-bar tape") {
    val bars = Seq(
      // open, high, low, close
      (10.0, 11.0, 9.0, 10.05), // doji: body .05 ≤ .1·range 2
      (10.0, 10.6, 8.0, 10.5),  // hammer: shadow 2 ≥ 2·body .5, upper .1
      (10.6, 10.7, 9.9, 10.0),  // bear engulf of the prior up body
      (9.95, 10.7, 9.9, 10.65)  // bull engulf of the prior down body
    ).zipWithIndex.map { case ((o, h, l, c), i) =>
      (1L, day(i + 1), o, h, l, c)
    }.toDF("user_id", "d", "open", "high", "low", "close")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("open"), col("high"), col("low"), col("close"))
    val out = EventSeries.candlePatterns(bars)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(out == ((1L, 4L, 1L, 1L, 1L, 1L)))
  }

  test("pivotPoints: day-2 levels equal the hand-computed classic " +
    "formulas over day-1 H/L/C; first bar is dropped") {
    val bars = Seq((1L, day(1), 11.0, 9.0, 10.05),
        (1L, day(2), 12.0, 10.0, 11.0))
      .toDF("user_id", "d", "high", "low", "close")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("high"), col("low"), col("close"))
    val out = EventSeries.pivotPoints(bars)
      .select("pivot", "r1", "s1", "r2", "s2")
      .as[(Double, Double, Double, Double, Double)].collect().toSeq
    assert(out == Seq((10.0167, 11.0333, 9.0333, 12.0167, 8.0167)))
  }

  test("stickiness(2): a user active only on day 1 stays visible in " +
    "day 2's trailing window — DAU/MAU drops to 0.5") {
    val events = Seq((1L, day(1)), (2L, day(2)))
      .toDF("user_id", "d")
      .select(col("user_id"), to_timestamp(col("d")).as("ts"))
    val out = EventSeries.stickiness(events, 2).orderBy("date")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(("2024-03-01", 1L, 1L, 1.0),
      ("2024-03-02", 1L, 2L, 0.5)))
  }

  test("cusum: +1%-a-day drift alarms exactly when s⁺ crosses h=4 " +
    "(9th day at k=0.5); a reversal drains the statistic to 0") {
    def staged(xs: Seq[Double]) = xs.zipWithIndex.map { case (x, i) =>
      (1L, day(i + 1), x)
    }.toDF("user_id", "d", "pct_change")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("pct_change"))
    val drift = graft.operators.EventSeries.cusum(staged(Seq.fill(9)(1.0)))
      .orderBy("date").select("cusum_pos", "alarm")
      .as[(Double, Boolean)].collect().toSeq
    assert(drift.map(_._1) == (1 to 9).map(_ * 0.5))
    assert(drift.map(_._2) == Seq.fill(8)(false) :+ true)
    val rev = graft.operators.EventSeries.cusum(staged(Seq(2.0, -2.0)))
      .orderBy("date").select("cusum_pos", "cusum_neg")
      .as[(Double, Double)].collect().toSeq
    assert(rev == Seq((1.5, 0.0), (0.0, -1.5)))
  }

  test("attribution: first-touch credits the day opener, last-touch " +
    "the immediately preceding event; a day-opening conversion " +
    "credits (none)") {
    val ev = Seq(
      (1L, day(1), 1L, "click"), (1L, day(1), 2L, "view"),
      (1L, day(1), 3L, "purchase"), (1L, day(1), 4L, "purchase"),
      (2L, day(1), 5L, "purchase")
    ).toDF("user_id", "d", "event_id", "event_type")
      .select(col("user_id"), to_timestamp(col("d")).as("ts"),
        col("event_id"), col("event_type"))
    val out = graft.operators.EventSeries.attribution(ev)
      .orderBy("channel").as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("(none)", 0L, 1L), ("click", 2L, 0L),
      ("purchase", 1L, 1L), ("view", 0L, 1L)))
  }

  test("seasonalDecompose: a pure Monday spike over a linear-free " +
    "base decomposes to flat trend, dow-shaped seasonal, zero " +
    "residual on full windows") {
    // 14 days from Monday 2024-03-04: Mondays close 17, others 10 —
    // every full 7-window holds exactly one Monday → trend 11
    val start = java.time.LocalDate.of(2024, 3, 4)
    val bars = (0 until 14).map { i =>
      val dt = start.plusDays(i)
      val close = if (dt.getDayOfWeek.getValue == 1) 17.0 else 10.0
      (1L, dt.toString, close)
    }.toDF("user_id", "d", "close")
      .select(col("user_id"), to_date(col("d")).as("date"), col("close"))
    val out = graft.operators.EventSeries.seasonalDecompose(bars)
      .orderBy("date")
      .select("trend", "dow", "seasonal", "residual")
      .as[(Option[Double], Long, Option[Double], Option[Double])]
      .collect().toSeq
    // edge rows (first/last 3) have no trend or residual
    assert((out.take(3) ++ out.takeRight(3)).forall(r =>
      r._1.isEmpty && r._4.isEmpty))
    val full = out.slice(3, 11)
    assert(full.forall(_._1.contains(11.0)))
    assert(full.forall(_._4.contains(0.0)))
    // seasonal: +6 on Mondays, −1 elsewhere (joined to edges too)
    assert(out.forall(r =>
      if (r._2 == 0L) r._3.contains(6.0) else r._3.contains(-1.0)))
  }

  test("ewmaVolatility matches a driver replay of the zero-seeded " +
    "RiskMetrics fold, including the (1 − λ) double") {
    val xs = Seq(10.0, 0.0, -5.0, 2.0)
    val staged = xs.zipWithIndex.map { case (x, i) => (1L, day(i + 1), x) }
      .toDF("user_id", "d", "pct_change")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("pct_change"))
    val lam = 0.94; val om = 1.0 - lam
    val ref = xs.scanLeft(0.0)((v, x) => lam * v + om * x * x).tail
    def r4(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = graft.operators.EventSeries.ewmaVolatility(staged)
      .orderBy("date").select("ewma_vol", "ewma_vol_annual")
      .as[(Double, Double)].collect().toSeq
    assert(out == ref.map(v =>
      (r4(math.sqrt(v)), r4(math.sqrt(v * 252.0)))))
  }

  test("garmanKlass: constant bars read zero vol once the window " +
    "fills; non-positive bars fall out of the count gate") {
    import graft.functions.{Indicators, WindowFns}
    val w = WindowFns.series(col("user_id"), col("date"))
    val bars = (1 to 21).map(i => (1L, day(i),
        if (i == 1) 0.0 else 10.0, 10.0, 10.0, 10.0))
      .toDF("user_id", "d", "open", "high", "low", "close")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("open"), col("high"), col("low"), col("close"))
    val out = bars.select(col("date"),
        Indicators.garmanKlass(col("open"), col("high"), col("low"),
          col("close"), w, 20).as("v"))
      .orderBy("date").select("v").as[Option[Double]].collect().toSeq
    // day 1 is excluded (open = 0), so the 20-bar gate first passes on
    // day 21, not day 20
    assert(out.take(20).forall(_.isEmpty))
    assert(out(20).contains(0.0))
  }

  test("eventPaths: trigram paths stay inside a (user, day) stream " +
    "and rank (count desc, path asc)") {
    val ev = Seq(
      (1L, day(1), 1L, "a"), (1L, day(1), 2L, "b"),
      (1L, day(1), 3L, "c"), (1L, day(1), 4L, "d"),
      (2L, day(1), 5L, "a"), (2L, day(1), 6L, "b"),
      (2L, day(1), 7L, "c"),
      // day boundary: no path may cross it
      (1L, day(2), 8L, "x"), (1L, day(2), 9L, "y")
    ).toDF("user_id", "d", "event_id", "event_type")
      .select(col("user_id"), to_timestamp(col("d")).as("ts"),
        col("event_id"), col("event_type"))
    val out = graft.operators.EventSeries.eventPaths(ev, 20)
      .orderBy("rank").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "a>b>c", 2L), (2L, "b>c>d", 1L)))
  }

  test("hourlyHeatmap: cells count events and distinct users at " +
    "(Mon=0 dow, hour) with exact shares") {
    // 2024-03-04 is a Monday
    val ev = Seq((1L, "2024-03-04 09:15:00"), (2L, "2024-03-04 09:45:00"),
        (1L, "2024-03-05 17:00:00"), (1L, "2024-03-05 17:30:00"))
      .toDF("user_id", "t")
      .select(col("user_id"), to_timestamp(col("t")).as("ts"))
    val out = graft.operators.EventSeries.hourlyHeatmap(ev)
      .orderBy("dow", "hour")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 9L, 2L, 2L, 0.5), (1L, 17L, 2L, 1L, 0.5)))
  }

  test("anomalyDays: a 10x spike day flags; the exact-moment z " +
    "matches a driver replay") {
    val ev = (Seq.fill(10)(day(1)) ++ Seq.fill(10)(day(2)) ++
      Seq.fill(10)(day(3)) ++ Seq.fill(100)(day(4)))
      .zipWithIndex.map { case (d, i) => (i.toLong, d) }
      .toDF("user_id", "d")
      .select(col("user_id"), to_timestamp(col("d")).as("ts"))
    val cs = Seq(10L, 10L, 10L, 100L)
    val n = cs.size; val s = cs.sum; val ssq = cs.map(c => c * c).sum
    val mu = s.toDouble / n
    val sd = math.sqrt((n * ssq - s * s).toDouble / (n * (n - 1)))
    def r4(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = graft.operators.EventSeries.anomalyDays(ev)
      .orderBy("date").as[(String, Long, Double, Boolean)]
      .collect().toSeq
    assert(out.map(_._2) == cs)
    assert(out.map(_._3) == cs.map(c => r4((c - mu) / sd)))
    assert(out.map(_._4) == cs.map(c => math.abs((c - mu) / sd) >= 2))
  }

  test("typeOverlap: hand-built audiences give exact Jaccard") {
    val ev = Seq((1L, "x"), (2L, "x"), (3L, "x"),
        (2L, "y"), (3L, "y"), (4L, "y"), (9L, "z"))
      .toDF("user_id", "event_type")
      .withColumn("ts", to_timestamp(lit(day(1))))
    val out = graft.operators.EventSeries.typeOverlap(ev)
      .orderBy("type_a", "type_b")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // x∩y = {2,3} of union {1,2,3,4} → 0.5; z shares nobody
    assert(out == Seq(("x", "y", 3L, 3L, 2L, 0.5)))
  }

  test("rollSpread: a perfect ±1 bounce reads cov −120/121 and " +
    "spread 2·√(120/121) in exact integer moments") {
    val staged = (1 to 12).map(i =>
      (1L, day(i), if (i % 2 == 1) 1.0 else -1.0))
      .toDF("user_id", "d", "price_change")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("price_change"))
    val out = graft.operators.EventSeries.rollSpread(staged)
      .as[(Long, Long, Double, Option[Double])].head()
    assert(out == ((1L, 11L, -0.991736, Some(1.9917))))
  }

  test("priceImpact: |Δp| = 2·volume recovers slope 2, intercept 0 " +
    "exactly") {
    val staged = (1 to 12).map(i =>
      (1L, day(i), i.toLong, 2.0 * i * (if (i % 2 == 0) -1 else 1)))
      .toDF("user_id", "d", "volume", "price_change")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("volume"), col("price_change"))
    val out = graft.operators.EventSeries.priceImpact(staged)
      .as[(Long, Long, Double, Double)].head()
    assert(out == ((1L, 12L, 2.0, 0.0)))
  }

  test("dispersionIndex: constant daily counts read Fano 0; a bursty " +
    "[1,5] split reads 16/6 = 2.6667 — all-integer") {
    val ev =
      (Seq.fill(2)(("A", day(1))) ++ Seq.fill(2)(("A", day(2))) ++
        Seq.fill(2)(("A", day(3))) ++
        Seq.fill(1)(("B", day(1))) ++ Seq.fill(5)(("B", day(2))))
        .toDF("event_type", "d")
        .select(col("event_type"), to_timestamp(col("d")).as("ts"))
    val out = graft.operators.EventSeries.dispersionIndex(ev)
      .orderBy("event_type")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(("A", 3L, 6L, 2.0, 0.0),
      ("B", 2L, 6L, 3.0, 2.6667)))
  }

  test("volumeProfile: closes bucket over the key's own range with " +
    "the max clamped into the last bin; exact volume shares") {
    val bars = Seq((1L, day(1), 10.0, 5L), (1L, day(2), 10.0, 5L),
        (1L, day(3), 20.0, 10L))
      .toDF("user_id", "d", "close", "volume")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("close"), col("volume"))
    val out = graft.operators.EventSeries.volumeProfile(bars, 10)
      .orderBy("bin").as[(Long, Long, Long, Long, Double)]
      .collect().toSeq
    assert(out == Seq((1L, 0L, 2L, 10L, 0.5), (1L, 9L, 1L, 10L, 0.5)))
  }

  test("newVsReturning: a user's first day counts as new, later days " +
    "as returning; exact new-share") {
    val ev = Seq((1L, day(1)), (1L, day(2)), (2L, day(2)))
      .toDF("user_id", "d")
      .select(col("user_id"), to_timestamp(col("d")).as("ts"))
    val out = graft.operators.EventSeries.newVsReturning(ev)
      .orderBy("date").as[(String, Long, Long, Long, Double)]
      .collect().toSeq
    assert(out == Seq(("2024-03-01", 1L, 1L, 0L, 1.0),
      ("2024-03-02", 2L, 1L, 1L, 0.5)))
  }

  test("rollingBeta: a key that IS the market reads beta 1 once the " +
    "window fills; short windows gate to null") {
    val staged = Seq(1.0, 3.0, 2.0, 4.0).zipWithIndex.flatMap {
      case (r, i) => Seq((1L, day(i + 1), r), (2L, day(i + 1), r))
    }.toDF("user_id", "d", "pct_change")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("pct_change"))
    val out = graft.operators.EventSeries.rollingBeta(staged, 2)
      .where(col("user_id") === 1L).orderBy("date")
      .select("rolling_beta").as[Option[Double]].collect().toSeq
    assert(out == Seq(None, Some(1.0), Some(1.0), Some(1.0)))
  }

  test("weekendEffect: constant-difference halves give the exact " +
    "means and a null-free t on clean variance") {
    // 2024-03-04 Mon .. 03-17 Sun: weekdays ret 1.0±0.1, weekends 3.0±0.1
    val start = java.time.LocalDate.of(2024, 3, 4)
    val staged = (0 until 14).map { i =>
      val dt = start.plusDays(i)
      val base = if (dt.getDayOfWeek.getValue >= 6) 3.0 else 1.0
      (1L, dt.toString, base + (if (i % 2 == 0) 0.1 else -0.1))
    }.toDF("user_id", "d", "pct_change")
      .select(col("user_id"), to_date(col("d")).as("date"),
        col("pct_change"))
    val out = graft.operators.EventSeries.weekendEffect(staged)
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert((out._2, out._3) == ((4L, 10L)))
    assert(out._4 == 3.0 && out._5 == 1.0)
    assert(out._6 > 10.0) // tiny variances, 2-point separation
  }

  test("chi2Independence: independent margins give chi2 0; a " +
    "concentrated cell pushes the exact bridged total up") {
    def ev(rows: Seq[(String, String, Int)]) =
      rows.flatMap { case (t, d, k) => Seq.fill(k)((t, d)) }
        .toDF("event_type", "d")
        .select(col("event_type"), to_timestamp(col("d")).as("ts"))
    // perfectly proportional: each type 2× on Mon, 1× on Tue
    val indep = ev(Seq(("a", "2024-03-04", 2), ("a", "2024-03-05", 1),
      ("b", "2024-03-04", 4), ("b", "2024-03-05", 2)))
    val z = graft.operators.EventSeries.chi2Independence(indep)
      .select("chi2_total").as[Double].head()
    assert(z == 0.0)
    // all of type a on Monday, all of b on Tuesday → strong dependence
    val dep = ev(Seq(("a", "2024-03-04", 5), ("b", "2024-03-05", 5)))
    val c = graft.operators.EventSeries.chi2Independence(dep)
      .select("chi2_total").as[Double].head()
    assert(c == 10.0) // 2×2 perfect separation: chi2 = n
  }

  test("timeToConvert: same-day, delayed, and never-converting users " +
    "land in the right buckets with exact shares") {
    val ev = Seq(
      (1L, day(1), "purchase"),               // same day → 0
      (2L, day(1), "click"), (2L, day(3), "purchase"), // → 2
      (3L, day(2), "click")                   // never → −1
    ).toDF("user_id", "d", "event_type")
      .select(col("user_id"), to_timestamp(col("d")).as("ts"),
        col("event_type"))
    val out = graft.operators.EventSeries.timeToConvert(ev)
      .orderBy("days").as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((-1L, 1L, 0.3333), (0L, 1L, 0.3333),
      (2L, 1L, 0.3333)))
  }

  test("markovEval: a deterministic a→b chain is learned perfectly " +
    "while the mode baseline splits") {
    // train days 1-2: a→b, b→a strictly alternating; test days 3-4
    // continue the pattern — markov 100%, baseline = mode('a' or 'b')
    val ev = (1 to 4).flatMap { dd =>
      Seq((1L, f"2024-03-0$dd 10:00:00", 2L * dd, "a"),
        (1L, f"2024-03-0$dd 11:00:00", 2L * dd + 1, "b"))
    }.toDF("user_id", "t", "event_id", "event_type")
      .select(col("user_id"), to_timestamp(col("t")).as("ts"),
        col("event_id"), col("event_type"))
    val out = graft.operators.EventSeries.markovEval(ev)
      .as[(Long, Double, Double)].head()
    // 8 events → 7 transitions; split at day 2: train = transitions
    // rooted on days 1-2 (4), test = days 3-4 (3). Markov learns
    // a→b / b→a exactly; baseline predicts the tied-mode 'a', which
    // hits only the b→a transitions (1 of 3 in test: b@3→a@4... )
    assert(out._1 == 3L && out._2 == 1.0)
    assert(out._3 < 1.0)
  }

  test("seasonalStrength: a pure dow pattern explains everything " +
    "(strength 1); a flat series has no detrended variance (null)") {
    val start = java.time.LocalDate.of(2024, 3, 4)
    val bars = (0 until 14).flatMap { i =>
      val dt = start.plusDays(i)
      val spiky = if (dt.getDayOfWeek.getValue == 1) 17.0 else 10.0
      Seq((1L, dt.toString, spiky), (2L, dt.toString, 10.0))
    }.toDF("user_id", "d", "close")
      .select(col("user_id"), to_date(col("d")).as("date"), col("close"))
    val out = graft.operators.EventSeries.seasonalStrength(bars)
      .orderBy("user_id")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq((1L, 8L, Some(1.0)), (2L, 8L, None)))
  }

  test("kaplanMeier: lifetimes [0,0,1,2] walk S = 0.5, 0.25, 0 with " +
    "exact at-risk counts") {
    // users 1,2 active one day; 3 spans 2 days; 4 spans 3 days
    val events = Seq(
      (1L, day(1)), (2L, day(2)),
      (3L, day(1)), (3L, day(2)),
      (4L, day(1)), (4L, day(2)), (4L, day(3))
    ).toDF("user_id", "d")
      .select(col("user_id"), to_timestamp(col("d")).as("ts"))
    val out = EventSeries.kaplanMeier(events).orderBy("t")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 4L, 2L, 0.5), (1L, 2L, 1L, 0.25),
      (2L, 1L, 1L, 0.0)))
  }

  test("sessions: a gap over gapMinutes starts a new session; events " +
    "within it stay in one") {
    // user 1: two sessions (gap > 30 min); user 2: one session
    val events = Seq(
      (1L, "2024-06-01 10:00:00"), (1L, "2024-06-01 10:10:00"),
      (1L, "2024-06-01 11:30:00"),
      (2L, "2024-06-01 09:00:00"), (2L, "2024-06-01 09:20:00"),
      (2L, "2024-06-01 09:40:00"))
      .map { case (u, t) => (u, java.sql.Timestamp.valueOf(t), u) }
      .toDF("user_id", "ts", "event_id")
      .withColumn("value", col("event_id").cast("double"))
    val got = EventSeries.sessions(events, 30)
      .select(col("user_id"), col("n_events").cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 1L), (1L, 2L), (2L, 3L)))
  }
}
