package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Indicators, TextFns, WindowFns}
import graft.functions.ExactRound.fixed4

/** The reference's stock-pipeline shapes, bound to the `events` fixture.
  *
  * The reference operates on a keyed daily series (ticker, date) with OHLCV
  * columns plus a per-(key,day) enrichment table (SURVEY §1.1, §3.1). The
  * driver fixture's analog is `events(user_id, ts, value, event_type,
  * props)`: `user_id` plays ticker, calendar day of `ts` plays date, and
  * per-day aggregates of `value` play the OHLC bar. The enrichment analog
  * derives a per-(user, day) dominant event_type ("sentiment").
  *
  * Scale: dailyBars is one hash aggregation keyed (user_id, date) — partial
  * map-side combine then a single shuffle; window stages reuse the same key
  * so they co-partition with it.
  */
object EventSeries {

  /** Σ `v` over the rows where `cond` holds, as a long. */
  private def csum(cond: Column, v: Column): Column =
    sum(when(cond, v).otherwise(lit(0L))).cast("long")

  /** A displayed mean s/(n·10⁴) of a scaled-4dp sum column `s` over
    * count column `n`. It lands on decimal ties, so it rounds through
    * the signed bridge ([[graft.functions.ExactRound.signedRatio]]). */
  private def mean4(s: String, n: String): Column =
    graft.functions.ExactRound.signedRatio(col(s), col(n), 0)
      .divide(lit(10000.0))

  /** Per-(user_id, date) OHLCV-like bar from the raw event stream.
    * open/close are arg-min/arg-max by event_id — event ids are assigned in
    * event-time order in the fixture, and a single unique key avoids
    * timestamp-precision tie-break differences across engines. */
  def dailyBars(events: DataFrame): DataFrame = {
    val ord = col("event_id")
    events
      .groupBy(col("user_id"), to_date(col("ts")).as("date"))
      .agg(
        round(min_by(col("value"), ord), 4).as("open"),
        round(max(col("value")), 4).as("high"),
        round(min(col("value")), 4).as("low"),
        round(max_by(col("value"), ord), 4).as("close"),
        count(lit(1)).as("volume"))
  }

  /** dailyBars decomposed into associative partial aggregates: partials
    * computed over ANY partition of the events (micro-batches, shards,
    * backfill chunks) re-merge to exactly the batch bar. open/close carry
    * their arg event ids so the merge keeps the global arg-min/arg-max;
    * round(4dp) is monotone, so min/max commute with it and rounding
    * per-partial equals rounding once at the end. */
  def dailyBarPartials(events: DataFrame): DataFrame = {
    val ord = col("event_id")
    events
      .groupBy(col("user_id"), to_date(col("ts")).as("date"))
      .agg(
        min(ord).as("open_eid"),
        round(min_by(col("value"), ord), 4).as("open"),
        round(max(col("value")), 4).as("high"),
        round(min(col("value")), 4).as("low"),
        max(ord).as("close_eid"),
        round(max_by(col("value"), ord), 4).as("close"),
        count(lit(1)).as("volume"))
  }

  /** Merge step for [[dailyBarPartials]]: one hash aggregation on the
    * same (user_id, date) key. */
  def mergeBarPartials(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("user_id"), col("date"))
      .agg(
        min(col("open_eid")).as("open_eid"),
        min_by(col("open"), col("open_eid")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max(col("close_eid")).as("close_eid"),
        max_by(col("close"), col("close_eid")).as("close"),
        sum(col("volume")).as("volume"))

  /** Final bar schema from partials: merge, then drop the merge-state
    * event ids. Equals dailyBars(events) when the partials cover the
    * same events exactly once. */
  def finalizeBars(partials: DataFrame): DataFrame =
    mergeBarPartials(partials).select(
      col("user_id"), col("date"), col("open"), col("high"),
      col("low"), col("close"), col("volume"))

  /** Staging model: previous close / price change / pct change via LAG
    * (reference: dbt_project/models/staging/stg_stock_prices.sql:3-14). */
  def stgDailyPrices(bars: DataFrame): DataFrame = {
    val w = WindowFns.series(col("user_id"), col("date"))
    // stage the lag ONCE and derive the change columns from the staged
    // column: window expressions are extracted per textual occurrence,
    // so referencing the `prev` Column four times planned four identical
    // lag(close) window expressions (r12 optimization — identical
    // values, one lag in the Window operator)
    bars
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .withColumn("price_change",
        round(col("close") - col("prev_close"), 4))
      .withColumn("pct_change",
        round((col("close") - col("prev_close")) /
          nullif(col("prev_close"), lit(0)) * 100, 4))
  }

  /** Enrichment analog of the grok explanations table: the dominant
    * event_type per (user, day), deterministically tie-broken by name
    * (count desc, event_type asc), lowercased like
    * stg_grok_explanations.sql:7-8. */
  def dailySentiment(events: DataFrame): DataFrame = {
    val counted = events
      .groupBy(col("user_id"), to_date(col("ts")).as("date"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    // r12 optimization note: a single-hash-agg top-1 via
    // min_by(struct(type,n), struct(-n,type)) was A/B'd against this
    // row_number form (OPTIMIZATION_r12.md) — identical output, −8% at
    // sf0.1 but consistently +5-16% SLOWER at 128× in two samples (the
    // struct-valued min_by buffer falls off the primitive fast path,
    // while this form's WindowGroupLimit partial prunes to ≤1 row per
    // key per partition BELOW the exchange). Scale wins: kept as-is.
    val w = Window.partitionBy(col("user_id"), col("date"))
      .orderBy(col("n").desc, col("event_type").asc)
    counted
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("date"),
        TextFns.lower(col("event_type")).as("sentiment"),
        col("n").as("n_events"))
  }

  /** Batch sessionization: a session breaks when the gap from the
    * previous event of the same user exceeds `gapMinutes`. LAG → break
    * flag → running sum (= session index) → per-session aggregates.
    * One shuffle on user_id; the window and the final aggregation share
    * that partitioning. Timestamps are emitted as epoch microseconds
    * (exact integers cross-engine); the value sum goes through
    * decimal(18,2) so it is order-independent and oracle-exact. */
  def sessions(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val us = unix_micros(col("ts"))
    val prevUs = lag(us, 1).over(w)
    val brk = when(prevUs.isNull ||
      us - prevUs > gapMinutes * 60L * 1000000L, 1L).otherwise(0L)
    events
      .withColumn("_brk", brk)
      .withColumn("session_id", sum(col("_brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(us).as("start_us"),
        max(us).as("end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
  }

  /** Fact model: staged prices + enrichment + move category
    * (reference: dbt_project/models/marts/fct_prices_with_grok
    * .sql:3-24).
    *
    * r13 FUSED single-scan form (guide §2.4 "two operations keyed the
    * same way share one pass"): the old shape scanned events TWICE —
    * once for dailyBars, once for dailySentiment — and broadcast the
    * sentiment side back over a join. Both sides are per-(user, day)
    * reductions of the SAME events, so one per-(user, day, type)
    * aggregate now carries the bar partials (dailyBarPartials keyed
    * one level finer) AND the type count; the bars merge via window
    * aggregates over the (user, day) partition (arg-min/arg-max ride
    * min/max of (event_id, value) structs — exact, event ids are
    * unique; round(4dp) is monotone so per-type rounding commutes
    * with the merge), the dominant-type top-1 is a row_number in the
    * SAME partitioning, and the join disappears. Value-identical to
    * the two-scan form (R13FusedSpec pins ties, single-event days,
    * cross-type open/close; oracle re-proved). 128× A/B
    * (OPTIMIZATION_r13.md item 2, two
    * fresh-JVM samples): 8.41→4.52 / 8.00→4.07 s; sf0.1 1.33→1.20 s.
    * [[dailySentiment]] stays for its standalone callers. */
  def fctPricesWithSentiment(events: DataFrame): DataFrame = {
    val perUdt = events
      .groupBy(col("user_id"), to_date(col("ts")).as("date"),
        col("event_type"))
      .agg(
        min(col("event_id")).as("open_eid"),
        round(min_by(col("value"), col("event_id")), 4).as("open_t"),
        round(max(col("value")), 4).as("high_t"),
        round(min(col("value")), 4).as("low_t"),
        max(col("event_id")).as("close_eid"),
        round(max_by(col("value"), col("event_id")), 4).as("close_t"),
        count(lit(1)).as("n"))
    val wd = Window.partitionBy(col("user_id"), col("date"))
    val wTop = Window.partitionBy(col("user_id"), col("date"))
      .orderBy(col("n").desc, col("event_type").asc)
    val merged = perUdt
      .withColumn("open", min(struct(col("open_eid"), col("open_t")))
        .over(wd).getField("open_t"))
      .withColumn("high", max(col("high_t")).over(wd))
      .withColumn("low", min(col("low_t")).over(wd))
      .withColumn("close", max(struct(col("close_eid"), col("close_t")))
        .over(wd).getField("close_t"))
      .withColumn("volume", sum(col("n")).over(wd))
      .withColumn("_rn", row_number().over(wTop))
      .where(col("_rn") === 1)
      .select(col("user_id"), col("date"), col("open"), col("high"),
        col("low"), col("close"), col("volume"),
        TextFns.lower(col("event_type")).as("sentiment"),
        col("n").as("n_events"))
    val w = WindowFns.series(col("user_id"), col("date"))
    merged
      .withColumn("prev_close", lag(col("close"), 1).over(w))
      .withColumn("price_change",
        round(col("close") - col("prev_close"), 4))
      .withColumn("pct_change",
        round((col("close") - col("prev_close")) /
          nullif(col("prev_close"), lit(0)) * 100, 4))
      .withColumn("move_category",
        Indicators.moveCategory(col("pct_change")))
      .select(col("user_id"), col("date"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), col("prev_close"),
        col("price_change"), col("pct_change"), col("sentiment"),
        col("n_events"), col("move_category"))
  }

  /** Weekly OHLCV bars — the pandas `resample('W')` analog one rung
    * above [[dailyBars]]: per (user, ISO week) the first/last values
    * by (ts, event_id) play open/close (the tiebreak makes same-
    * timestamp events deterministic, unlike bare min_by/max_by),
    * high/low/volume aggregate directly, and the value sum runs in
    * DECIMAL(18,2) for cross-engine exactness. Two windows + one
    * aggregate, all keyed (user, week) — co-partitioned, linear. */
  def weeklyBars(events: DataFrame, tsCol: String = "ts",
                 userCol: String = "user_id",
                 valueCol: String = "value"): DataFrame = {
    val e = events.select(col(userCol).as("user_id"),
      date_trunc("week", col(tsCol)).as("wk"),
      unix_micros(col(tsCol)).as("ts_us"), col("event_id"),
      col(valueCol).as("v"))
    val asc = Window.partitionBy(col("user_id"), col("wk"))
      .orderBy(col("ts_us"), col("event_id"))
    val desc = Window.partitionBy(col("user_id"), col("wk"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    // group on the RAW week key the windows already partitioned by —
    // grouping on the formatted string would re-shuffle; this way the
    // aggregate reuses the window exchange (one Exchange total before
    // the output sort, plan-checked via Explain)
    e.withColumn("_r1", row_number().over(asc))
      .withColumn("_r2", row_number().over(desc))
      .groupBy(col("user_id"), col("wk"))
      .agg(max(when(col("_r1") === 1, col("v"))).as("open"),
        max(col("v")).as("high"), min(col("v")).as("low"),
        max(when(col("_r2") === 1, col("v"))).as("close"),
        count(lit(1)).as("volume"),
        sum(col("v").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .select(col("user_id"), graft.queries.iso(col("wk")).as("week"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("sum_value"))
  }

  /** Ordered conversion funnel per (user, day): `t_i` is the earliest
    * `steps(i)` event AT OR AFTER the previous step's time, so a day
    * counts for stage i only when the steps happened IN ORDER (a
    * purchase before the first view does not convert). `reached` is
    * the completed prefix length — null steps cascade by
    * construction (the ts ≥ t_{i-1} filter drops on null).
    *
    * Each stage is one (user, date)-keyed aggregate + equi-join — all
    * stages co-partition on the same key, linear in events. Epoch-
    * micros BIGINT times + ISO date keep it hash-portable (q136). */
  def dailyFunnel(events: DataFrame,
                  steps: Seq[String] = Seq("view", "click", "purchase"),
                  tsCol: String = "ts", userCol: String = "user_id",
                  typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    val e = events.select(col(userCol).as("user_id"),
      graft.queries.iso(col(tsCol)).as("date"),
      unix_micros(col(tsCol)).as("ts_us"), col(typeCol).as("_t"))
    var acc = e.groupBy(col("user_id"), col("date"))
      .agg(count(lit(1)).as("n_events"))
    steps.zipWithIndex.foreach { case (st, i) =>
      val stepEvents = e.filter(col("_t") === st)
      val joined =
        if (i == 0) stepEvents.join(acc.select("user_id", "date"),
          Seq("user_id", "date"))
        else stepEvents.join(
          acc.select(col("user_id"), col("date"),
            col(s"t${i}_us").as("_prev")),
          Seq("user_id", "date"))
          .filter(col("ts_us") >= col("_prev"))
      val t = joined.groupBy(col("user_id"), col("date"))
        .agg(min(col("ts_us")).as(s"t${i + 1}_us"))
      acc = acc.join(t, Seq("user_id", "date"), "left")
    }
    acc.withColumn("reached",
      steps.indices.map(i =>
        col(s"t${i + 1}_us").isNotNull.cast("long")).reduce(_ + _))
  }

  /** Funnel latency profile: for every (user, day) that completed the
    * whole ordered funnel, the view→purchase latency, rolled up per
    * date as exact count + interpolated p50/p90 (the q67b
    * percentile bridge: 4dp rounding on the interpolated value).
    * Builds on [[dailyFunnel]]'s one-aggregate-per-stage plan; the
    * rollup is one per-date aggregate over the completed rows. */
  def funnelLatency(events: DataFrame,
                    steps: Seq[String] = Seq("view", "click",
                      "purchase")): DataFrame = {
    val f = dailyFunnel(events, steps)
    val last = s"t${steps.size}_us"
    f.where(col("reached") === steps.size)
      .withColumn("lat_s",
        (col(last) - col("t1_us")).cast("double") / 1000000)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(lat_s, 0.5)"), 4).as("lat_p50"),
        round(expr("percentile(lat_s, 0.9)"), 4).as("lat_p90"))
  }

  /** Cohort retention: users grouped by their FIRST active day; for
    * every (cohort day, day offset) the distinct users active again.
    * Two aggregates (first-day per user, distinct user-days) and one
    * user-keyed join — the classic warehouse rollup, linear (q137). */
  def cohortRetention(events: DataFrame, tsCol: String = "ts",
                      userCol: String = "user_id"): DataFrame = {
    val e = events.select(col(userCol).as("user_id"),
      to_date(col(tsCol)).as("d")).distinct()
    val first = e.groupBy(col("user_id")).agg(min(col("d")).as("c"))
    e.join(first, Seq("user_id"))
      .groupBy(graft.queries.iso(col("c")).as("cohort_date"),
        datediff(col("d"), col("c")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Recursive (pandas `adjust=False`) EMA fast/slow + MACD + signal +
    * histogram per key, the `ewm(span=..).mean()` family the reference's
    * indicator set sits next to (ml/feature_engineering.py's rolling
    * block). The recurrence `e_t = α·x_t + (1-α)·e_{t-1}`, seeded at the
    * first close, cannot be a Catalyst window aggregate (each output
    * depends on the previous OUTPUT, not a frame of inputs), so this is
    * the sorted-scan pattern: one Exchange on the key, sort within
    * partitions, a single O(n) `mapPartitions` pass holding constant
    * per-key state. Signal is the same recurrence over the UNROUNDED macd
    * stream, seeded at the first macd value; rounding happens only on the
    * output columns so the oracle (a per-row `list_reduce` left fold over
    * the same doubles) performs the bit-identical arithmetic sequence.
    *
    * α must be α = 2/(span+1) evaluated in double EXACTLY as the oracle
    * writes it (`2e0/(span+1)`), and the recurrence must multiply-add in
    * the same shape `α*x + (1-α)*e` — both pinned in EventSeriesSpec.
    *
    * Scale: identical plan to sessions/sessionize — repartition by key,
    * linear scan, O(1) state per key; series length never materializes. */
  def emaMacd(bars: DataFrame, fast: Int = 12, slow: Int = 26,
              signalSpan: Int = 9): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    val aF = 2.0 / (fast + 1);   val bF = 1.0 - aF
    val aS = 2.0 / (slow + 1);   val bS = 1.0 - aS
    val aG = 2.0 / (signalSpan + 1); val bG = 1.0 - aG
    val src = bars
      .select(col("user_id").cast("long"), col("date").cast("date"),
        col("close").cast("double"))
      .as[(Long, java.sql.Date, Double)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("date"))
    val scanned = src.mapPartitions { it =>
      var cur = Long.MinValue
      var e12 = 0.0; var e26 = 0.0; var sig = 0.0
      it.map { case (u, dt, close) =>
        if (u != cur) {
          cur = u; e12 = close; e26 = close; sig = e12 - e26
        } else {
          e12 = aF * close + bF * e12
          e26 = aS * close + bS * e26
          sig = aG * (e12 - e26) + bG * sig
        }
        val macd = e12 - e26
        (u, dt, close, e12, e26, macd, sig, macd - sig)
      }
    }.toDF("user_id", "date", "close", "ema_fast", "ema_slow", "macd",
      "macd_signal", "macd_hist")
    scanned.select(col("user_id"), col("date"), col("close"),
      round(col("ema_fast"), 4).as("ema_fast"),
      round(col("ema_slow"), 4).as("ema_slow"),
      round(col("macd"), 4).as("macd"),
      round(col("macd_signal"), 4).as("macd_signal"),
      round(col("macd_hist"), 4).as("macd_hist"))
  }

  /** Keltner channels: recursive EMA(emaSpan) of typical price
    * (high+low+close)/3 as the center line, banded at ±mult·ATR(atrPeriod).
    * Same recurrence constraint as [[emaMacd]] (each EMA output depends on
    * the previous OUTPUT), so the whole thing is ONE sorted scan per key —
    * the ATR rolling mean rides in the same pass via a bounded ring buffer
    * of true ranges instead of a second Window exchange. O(1) state per
    * key (`atrPeriod` doubles), one Exchange total at any scale.
    *
    * ATR matches [[graft.functions.Indicators.atr]] exactly: TR =
    * greatest(h−l, |h−prev_c|, |l−prev_c|) with the null prev ignored
    * (first row TR = h−l), min_periods=atrPeriod, rounded 4dp BEFORE the
    * band arithmetic so the oracle adds the identical 4dp ATR. */
  def keltner(bars: DataFrame, emaSpan: Int = 20, atrPeriod: Int = 10,
              mult: Double = 2.0): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    val a = 2.0 / (emaSpan + 1); val b = 1.0 - a
    val src = bars
      .select(col("user_id").cast("long"), col("date").cast("date"),
        col("high").cast("double"), col("low").cast("double"),
        col("close").cast("double"))
      .as[(Long, java.sql.Date, Double, Double, Double)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("date"))
    val scanned = src.mapPartitions { it =>
      var cur = Long.MinValue
      var e = 0.0
      var prevClose = Double.NaN
      val ring = new Array[Double](atrPeriod)
      var seen = 0; var head = 0
      it.map { case (u, dt, high, low, close) =>
        val tp = (high + low + close) / 3
        if (u != cur) {
          cur = u; e = tp; prevClose = Double.NaN
          seen = 0; head = 0
          java.util.Arrays.fill(ring, 0.0)
        } else {
          e = a * tp + b * e
        }
        val tr =
          if (prevClose.isNaN) high - low
          else math.max(high - low,
            math.max(math.abs(high - prevClose), math.abs(low - prevClose)))
        prevClose = close
        ring(head) = tr
        head = (head + 1) % atrPeriod
        if (seen < atrPeriod) seen += 1
        // recompute the bounded sum each row in arrival order (oldest
        // first) — a running add/subtract sum drifts over long series
        // and could flip 4dp rounding ties against the oracle's avg
        var trSum = 0.0
        var i = 0
        while (i < seen) {
          trSum += ring((head + atrPeriod - seen + i) % atrPeriod)
          i += 1
        }
        // round through BigDecimal half-up like Spark's round()
        val atr4 = if (seen >= atrPeriod)
          BigDecimal(trSum / atrPeriod)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        else Double.NaN
        (u, dt, close, e, if (atr4.isNaN) None else Some(atr4))
      }
    }.toDF("user_id", "date", "close", "ema_tp", "atr")
    scanned.select(col("user_id"), col("date"), col("close"),
      round(col("ema_tp"), 4).as("center"),
      round(col("ema_tp") + lit(mult) * col("atr"), 4).as("upper"),
      round(col("ema_tp") - lit(mult) * col("atr"), 4).as("lower"),
      col("atr").as(s"atr_$atrPeriod"))
  }

  /** Holt double exponential smoothing (level + linear trend) per key:
    * `l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1})`,
    * `b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}`, initialized l₁ = y₁,
    * b₁ = 0 (fully determined from the first row — no two-row warm-up
    * special case). Emits the smoothed level, trend, and the one-step-
    * ahead forecast l+b. Coupled recurrence on the previous OUTPUTS, so
    * like [[emaMacd]]/[[keltner]] it runs as ONE sorted scan per key —
    * O(1) state, one Exchange at any scale. The oracle twin replays the
    * identical double arithmetic via a recursive CTE. */
  def holt(bars: DataFrame, alpha: Double = 0.5,
           beta: Double = 0.3): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    val src = bars
      .select(col("user_id").cast("long"), col("date").cast("date"),
        col("close").cast("double"))
      .as[(Long, java.sql.Date, Double)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("date"))
    val scanned = src.mapPartitions { it =>
      var cur = Long.MinValue
      var l = 0.0; var b = 0.0
      it.map { case (u, dt, y) =>
        if (u != cur) { cur = u; l = y; b = 0.0 }
        else {
          val lNew = alpha * y + (1.0 - alpha) * (l + b)
          b = beta * (lNew - l) + (1.0 - beta) * b
          l = lNew
        }
        (u, dt, y, l, b)
      }
    }.toDF("user_id", "date", "close", "l", "b")
    // UNROUNDED on purpose: the recurrence is the same IEEE op sequence
    // in both engines, so the doubles are bit-identical — but they can
    // land arbitrarily close to a 4dp decimal tie (42.92585… hit at
    // sf0.01), where Spark's BigDecimal HALF_UP and DuckDB's scaled
    // float round disagree on the SAME double. Exact raw doubles are
    // deterministic; a 4dp round of them is not.
    scanned.select(col("user_id"), col("date"), col("close"),
      col("l").as("level"), col("b").as("trend"),
      (col("l") + col("b")).as("forecast"))
  }

  /** Per-key risk/performance summary over the daily pct-return stream:
    * annualized Sharpe (mean/σ·√252), Sortino against a 0% MAR (downside
    * deviation = √(Σ min(r,0)² / n) over ALL n returns, the standard
    * full-count convention), and the return/volatility inputs. One hash
    * aggregate over the staged frame — partial-aggregated map-side,
    * linear at any scale. `minDays` keeps noise keys out of the ratio. */
  def riskSummary(staged: DataFrame, minDays: Int = 10,
                  periodsPerYear: Int = 252): DataFrame = {
    val r = staged.select(col("user_id"), col("pct_change").as("ret"))
      .where(col("ret").isNotNull)
    val ann = math.sqrt(periodsPerYear.toDouble)
    r.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        avg(col("ret")).as("mean_ret"),
        // the returns are exact 4dp decimals, so their mean can land on
        // a true …5 tie at the 4th decimal (hit at sf0.1) — the output
        // column goes through the scaled-long half-up bridge while the
        // Sharpe/Sortino ratios keep the double mean (their σ/√ terms
        // are irrational, tie-free)
        sum(round(col("ret") * 10000).cast("long")).as("_sr"),
        stddev_samp(col("ret")).as("vol"),
        sum(pow(least(col("ret"), lit(0.0)), 2)).as("down_ss"))
      .where(col("n_days") >= minDays)
      .select(col("user_id"), col("n_days"),
        graft.functions.ExactRound.signedRatio(col("_sr"),
          col("n_days"), 0).divide(lit(10000.0)).as("mean_ret"),
        round(col("vol"), 4).as("vol"),
        round(col("mean_ret") / nullif(col("vol"), lit(0)) * ann, 4)
          .as("sharpe"),
        round(col("mean_ret")
            / nullif(sqrt(col("down_ss") / col("n_days")), lit(0)) * ann, 4)
          .as("sortino"))
  }

  /** Running peak / drawdown-from-peak / running max drawdown per key —
    * the risk lens every price dashboard puts beside returns. Pure
    * window algebra (cummax, then cummin of the ratio) over the SAME
    * (user_id × date-order) window the other series stages use, so at
    * scale it shares their one Exchange. Drawdown ratios round through
    * double division; peaks/closes are already 4dp bar outputs. */
  def drawdown(bars: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // stage the running max once and derive the drawdown from the
    // staged column: window expressions extract per textual occurrence
    // (the r12 q11/q15 lesson), so the inline form planned the
    // max(close) running aggregate 4× (twice in the ratio, twice more
    // inside the min(dd) argument)
    bars.select(col("user_id"), col("date"), col("close"))
      .withColumn("peak", max(col("close")).over(w))
      .withColumn("drawdown_pct",
        round((col("close") - col("peak")) / col("peak") * 100, 4))
      .withColumn("max_drawdown_pct",
        min(col("drawdown_pct")).over(w))
  }

  /** Pairwise Pearson correlation of daily returns between keys — the
    * cross-ticker co-movement matrix (upper triangle, keys joined on
    * shared dates). The date-keyed self-join fans out |users_active|²
    * per date — bounded by the universe size (tickers), NOT the row
    * count, so at 100 TB the fan-out stays |U|²·days while the join
    * itself co-partitions on date. `minDays` guards the estimator
    * against noise pairs. */
  def pairCorrelation(staged: DataFrame, minDays: Int = 10): DataFrame = {
    val r = staged.select(col("user_id"), col("date"),
        col("pct_change").as("ret"))
      .where(col("ret").isNotNull)
    // explicit-parallelism exchange: the self-join fans out |users|²
    // rows per date from a tiny input — without a user-pinned count
    // AQE coalesces the join to a few tasks that then carry the whole
    // quadratic fan-out (the SkewTools.fanoutRepartition lesson)
    val rm = SkewTools.fanoutRepartition(r, col("date"))
    val a = rm.select(col("user_id").as("user_a"), col("date"),
      col("ret").as("ret_a"))
    val b = rm.select(col("user_id").as("user_b"), col("date"),
      col("ret").as("ret_b"))
    a.join(b, Seq("date"))
      .where(col("user_a") < col("user_b"))
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).as("n_days"),
        round(corr(col("ret_a"), col("ret_b")), 4).as("ret_corr"))
      .where(col("n_days") >= minDays)
  }

  /** Calendar gap-fill with forward-fill — pandas
    * `asfreq('D').ffill()`: every key's bar series is re-indexed onto
    * its full [min(date), max(date)] calendar (a per-key `sequence`
    * explode — map-side, bounded by the span), missing days join as
    * null and `close_ffill` carries the last observed close forward
    * (`last(_, ignoreNulls)` over the cumulative frame). `volume`
    * coalesces to 0 and `is_gap` flags synthesized rows. The grid
    * join and the window share the (user_id, date) key — co-
    * partitioned, linear in grid rows at any volume. */
  def gapFill(bars: DataFrame): DataFrame = {
    val spans = bars.groupBy(col("user_id"))
      .agg(min(col("date")).as("d0"), max(col("date")).as("d1"))
    val grid = spans.select(col("user_id"),
      explode(sequence(col("d0"), col("d1"))).as("date"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(bars.select(col("user_id"), col("date"), col("close"),
        col("volume")), Seq("user_id", "date"), "left")
      .select(col("user_id"), col("date"), col("close"),
        last(col("close"), ignoreNulls = true).over(w)
          .as("close_ffill"),
        coalesce(col("volume"), lit(0L)).as("volume"),
        col("close").isNull.cast("long").as("is_gap"))
  }

  /** Cross-sectional momentum quintiles — the factor-analysis shape:
    * per date, rank every key by its trailing `lookback`-day return
    * (4dp, user-id tiebreak → engine-portable ntiles), then the mean
    * NEXT-day return per (date, bucket). The ranking window partitions
    * by date (bounded by the universe per day) and the rollup is one
    * two-phase aggregate on the same rows. */
  def momentumQuintiles(bars: DataFrame, lookback: Int = 5,
                        buckets: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("date"))
    // stage the lag once (per-occurrence extraction: the inline form
    // planned lag(close, lookback) ×3 — numerator + NULLIF's two)
    val scored = bars
      .withColumn("_prev", lag(col("close"), lookback).over(w))
      .withColumn("_next", lead(col("close"), 1).over(w))
      .select(col("user_id"), col("date"),
        round((col("close") - col("_prev"))
          / nullif(col("_prev"), lit(0)) * 100, 4).as("mom"),
        round((col("_next") - col("close"))
          / nullif(col("close"), lit(0)) * 100, 4).as("next_ret"))
      .where(col("mom").isNotNull)
    val qW = Window.partitionBy(col("date"))
      .orderBy(col("mom").desc, col("user_id"))
    scored.withColumn("quintile", ntile(buckets).over(qW).cast("long"))
      .groupBy(col("date"), col("quintile"))
      .agg(count(lit(1)).as("n_users"),
        round(avg(col("next_ret")), 4).as("avg_next_ret"))
  }

  /** Lag-k autocorrelation of daily returns per key, k = 1..`maxLag` —
    * the mean-reversion/trending diagnostic. All lag columns share ONE
    * (key, date) window Exchange; the lag unpivot is a map-side array
    * explode; then one (key, lag) Pearson aggregate. `minN` gates thin
    * estimates. */
  def returnAutocorr(staged: DataFrame, maxLag: Int = 3,
                     minN: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("date"))
    val r = staged.select(col("user_id"), col("date"),
        col("pct_change").as("ret"))
      .where(col("ret").isNotNull)
    val withLags = r.select(Seq(col("user_id"), col("ret")) ++
      (1 to maxLag).map(k => lag(col("ret"), k).over(w).as(s"l$k")): _*)
    withLags
      .select(col("user_id"), explode(array((1 to maxLag).map(k =>
        struct(lit(k).cast("long").as("lag"), col("ret"),
          col(s"l$k").as("lret"))): _*)).as("e"))
      .select(col("user_id"), col("e.lag"), col("e.ret"),
        col("e.lret"))
      .where(col("lret").isNotNull)
      .groupBy(col("user_id"), col("lag"))
      .agg(count(lit(1)).as("n"),
        round(corr(col("ret"), col("lret")), 4).as("autocorr"))
      .where(col("n") >= minN)
  }

  /** Lead-lag structure vs the equal-weight market: per key, the
    * Pearson correlation of the key's return with the market's at
    * relative lags −1/0/+1 (does the key LEAD the common move, track
    * it, or follow it) — all OLS moments on exact 4dp scaled longs,
    * one √ per correlation. Market means are bridge-exact integers
    * broadcast back; the lag alignment is one window pass. */
  def leadLag(staged: DataFrame, minN: Int = 20): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), col("date"), x4.as("x"))
    val mkt = src.groupBy(col("date"))
      .agg(count(lit(1)).cast("long").as("nm"),
        sum(col("x")).cast("long").as("sm"))
      .select(col("date"),
        (when(col("sm") < 0,
          -call_function("div", abs(col("sm")) * 2 + col("nm"),
            col("nm") * 2))
          .otherwise(call_function("div",
            abs(col("sm")) * 2 + col("nm"), col("nm") * 2)))
          .as("m"))
    // unpartitioned window over the per-DATE market frame — bounded
    // by the observation span in days, never by volume (scale-audit r13)
    val wm = Window.orderBy(col("date"))
    val mkt3 = mkt
      .withColumn("m_prev", lag(col("m"), 1).over(wm))
      .withColumn("m_next", lead(col("m"), 1).over(wm))
    val j = src.join(broadcast(mkt3), Seq("date"))
    def corrOf(y: Column, tag: String): Seq[Column] = {
      val yd = y.cast("decimal(38,0)")
      val xd = col("x").cast("decimal(38,0)")
      Seq(count(y).cast("long").as(s"n_$tag"),
        sum(when(y.isNotNull, col("x"))).cast("long").as(s"sx_$tag"),
        sum(y).cast("long").as(s"sy_$tag"),
        sum(when(y.isNotNull, xd * col("x"))).as(s"sxx_$tag"),
        sum(yd * y).as(s"syy_$tag"),
        sum(xd * y).as(s"sxy_$tag"))
    }
    val g = j.groupBy(col("user_id"))
      .agg(corrOf(col("m_prev"), "lag").head,
        (corrOf(col("m_prev"), "lag").tail ++
          corrOf(col("m"), "sync") ++
          corrOf(col("m_next"), "lead")): _*)
      .where(col("n_sync") >= minN)
    def r(tag: String): Column = {
      val n = col(s"n_$tag")
      val num = (n * col(s"sxy_$tag") -
        col(s"sx_$tag").cast("decimal(38,0)") * col(s"sy_$tag"))
        .cast("double")
      val dx = (n * col(s"sxx_$tag") -
        col(s"sx_$tag").cast("decimal(38,0)") * col(s"sx_$tag"))
        .cast("double")
      val dy = (n * col(s"syy_$tag") -
        col(s"sy_$tag").cast("decimal(38,0)") * col(s"sy_$tag"))
        .cast("double")
      round(num / nullif(sqrt(dx * dy), lit(0.0)), 4)
    }
    g.select(col("user_id"), col("n_sync").as("n_days"),
      r("lag").as("r_follows_market"),
      r("sync").as("r_sync"),
      r("lead").as("r_leads_market"))
  }

  /** Event-mix trend: OLS slope of one event type's DAILY SHARE
    * (bridge-exact 6dp scaled long) against the day index — is the
    * mix drifting toward purchases. All OLS moments exact integers;
    * one bounded date-frame window for the index. */
  def mixTrend(events: DataFrame,
               eventType: String = "purchase"): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("event_type") === eventType, 1L).otherwise(0L))
          .cast("long").as("k"))
    val share6 = call_function("div",
      col("k") * 2000000L + col("n"), col("n") * 2)
    // unpartitioned window over the per-DAY frame — span-bounded
    // (scale-audit r13)
    val w = Window.orderBy(col("d"))
    val src = daily.withColumn("y", share6)
      .withColumn("x", (row_number().over(w) - 1).cast("long"))
    val xd = col("x").cast("decimal(38,0)")
    val g = src.agg(count(lit(1)).cast("long").as("nd"),
      sum(col("x")).cast("long").as("sx"),
      sum(col("y")).cast("long").as("sy"),
      sum(xd * col("y")).as("sxy"),
      sum(xd * col("x")).as("sxx"))
    val num = (col("nd") * col("sxy") -
      col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
    val den = (col("nd") * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    g.select(lit(eventType).as("event_type"),
      col("nd").as("n_days"),
      graft.functions.ExactRound.ratio(col("sy"),
        col("nd") * 100L, 0).divide(lit(10000.0)).as("mean_share"),
      round(num / nullif(den, lit(0.0)) / 1000000, 8)
        .as("share_slope_per_day"))
  }

  /** Weekly momentum-portfolio turnover: each week's top-`k` keys
    * by total return (exact scaled sums, key tiebreak), then
    * `turnover = 1 − |overlap|/k` between consecutive weeks — the
    * rebalancing-cost driver. Bounded week×k tables, one lag join. */
  def portfolioTurnover(staged: DataFrame, k: Int = 10): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val monthly = staged.where(col("pct_change").isNotNull)
      .groupBy(date_trunc("week", col("date")).as("m"),
        col("user_id"))
      .agg(sum(x4).cast("long").as("r4"))
    val w = Window.partitionBy(col("m"))
      .orderBy(col("r4").desc, col("user_id").asc)
    val top = monthly.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("m"), col("user_id"))
    val months = top.select(col("m")).distinct()
    // unpartitioned window over distinct WEEKS — span-bounded
    // (scale-audit r13)
    val wm = Window.orderBy(col("m"))
    val pairs = months.withColumn("pm", lag(col("m"), 1).over(wm))
      .where(col("pm").isNotNull)
    val overlap = pairs
      .join(top.select(col("m").as("pm"), col("user_id")), Seq("pm"))
      .join(top, Seq("m", "user_id"), "left_semi")
      .groupBy(col("m"))
      .agg(count(lit(1)).cast("long").as("n_kept"))
    pairs.join(overlap, Seq("m"), "left")
      .select(graft.queries.iso(to_date(col("m"))).as("week"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        graft.functions.ExactRound.ratio(
          lit(k.toLong) - coalesce(col("n_kept"), lit(0L)),
          lit(k.toLong), 4).as("turnover"))
  }

  /** Information ratio vs the equal-weight market: per key, the mean
    * and sample σ of the DAILY EXCESS return (x − market, both exact
    * 4dp scaled longs, so every moment is an exact integer) and
    * `IR = mean/σ·√252`. One bounded market broadcast + one hash
    * aggregate. */
  def informationRatio(staged: DataFrame, minN: Int = 20,
                       periodsPerYear: Int = 252): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), col("date"), x4.as("x"))
    val mkt = src.groupBy(col("date"))
      .agg(count(lit(1)).cast("long").as("nm"),
        sum(col("x")).cast("long").as("sm"))
      .select(col("date"),
        (when(col("sm") < 0,
          -call_function("div", abs(col("sm")) * 2 + col("nm"),
            col("nm") * 2))
          .otherwise(call_function("div",
            abs(col("sm")) * 2 + col("nm"), col("nm") * 2)))
          .as("m"))
    val j = src.join(broadcast(mkt), Seq("date"))
      .select(col("user_id"), (col("x") - col("m")).as("e"))
    val g = j.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("e")).cast("long").as("s"),
        sum(col("e").cast("decimal(38,0)") * col("e")).as("q"))
      .where(col("n") >= minN)
    val nd = col("n").cast("double")
    val mu = col("s").cast("double") / nd
    val sd = sqrt((col("n").cast("decimal(38,0)") * col("q") -
      col("s").cast("decimal(38,0)") * col("s")).cast("double") /
      (nd * (nd - 1)))
    g.select(col("user_id"), col("n").as("n_days"),
      graft.functions.ExactRound.signedRatio(col("s"), col("n"), 0)
        .divide(lit(10000.0)).as("mean_excess"),
      round(mu / nullif(sd, lit(0.0)) *
        math.sqrt(periodsPerYear.toDouble), 4).as("ir_annualized"))
  }

  /** Empirical tail-probability table per key: the exact share of
    * daily returns at or below each fixed threshold — the CDF read at
    * the points risk limits are written against. One conditional hash
    * aggregate, all bridges. */
  def tailProbs(staged: DataFrame, minDays: Int = 20): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), x4.as("x"))
    def le(t: Long) =
      sum(when(col("x") <= t, 1L).otherwise(0L)).cast("long")
    val g = src.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        le(-50000L).as("c_m5"), le(-10000L).as("c_m1"),
        le(0L).as("c_0"), le(10000L).as("c_p1"))
      .where(col("n") >= minDays)
    def p(c: String) =
      graft.functions.ExactRound.ratio(col(c), col("n"), 4)
    g.select(col("user_id"), col("n").as("n_days"),
      p("c_m5").as("p_le_m5"), p("c_m1").as("p_le_m1"),
      p("c_0").as("p_le_0"), p("c_p1").as("p_le_p1"))
  }

  /** Stop-loss rule backtest per key: enter at the first close, exit
    * at the FIRST close below `stopPct`% of entry (exact integer
    * cross-multiplied compare), else hold to the end; the rule's
    * return vs buy-and-hold. Deterministic first-trigger via one
    * min-date aggregate; returns through signed bridges. */
  def stopLossBacktest(bars: DataFrame, stopPct: Int = 5): DataFrame = {
    val c4 = fixed4(col("close"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("date"))
    val withEntry = bars
      .withColumn("c4", c4)
      .withColumn("e4", first(c4).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(w))
    // stop triggers when c4·100 < e4·(100 − stopPct) — exact ints
    val trig = withEntry
      .where(col("rn") > 1 &&
        col("c4") * 100 < col("e4") * (100 - stopPct))
      .groupBy(col("user_id"))
      .agg(min(struct(col("rn").as("r"), col("c4").as("xc")))
        .as("t"))
      .select(col("user_id"), col("t.xc").as("exit4"))
    val ends = withEntry.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        max(struct(col("rn"), col("c4"))).as("_last"),
        min(struct(col("rn"), col("c4"), col("e4"))).as("_first"))
      .select(col("user_id"), col("n_days"),
        col("_first.e4").as("entry4"), col("_last.c4").as("final4"))
    ends.join(trig, Seq("user_id"), "left")
      .where(col("entry4") > 0)
      .select(col("user_id"), col("n_days"),
        (col("exit4").isNotNull).cast("long").as("stopped_out"),
        graft.functions.ExactRound.signedRatio(
          (coalesce(col("exit4"), col("final4")) - col("entry4"))
            * 100, col("entry4"), 4).as("rule_return_pct"),
        graft.functions.ExactRound.signedRatio(
          (col("final4") - col("entry4")) * 100, col("entry4"), 4)
          .as("hold_return_pct"))
  }

  /** Inter-arrival coefficient of variation per user: CV = σ/μ of the
    * micros gaps between consecutive events — CV ≈ 1 reads Poisson,
    * ≫ 1 bursty, ≪ 1 machine-regular (the bot/cron screen). Exact
    * integer gap moments, one √ at the end. */
  def interArrivalCv(events: DataFrame, minGaps: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val us = unix_micros(col("ts"))
    val g = events
      .withColumn("gap", us - lag(us, 1).over(w))
      .where(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("gap")).cast("long").as("s"),
        sum(col("gap").cast("decimal(38,0)") * col("gap")).as("q"))
      .where(col("n") >= minGaps && col("s") > 0)
    val nd = col("n").cast("double")
    val mu = col("s").cast("double") / nd
    val varr = (col("n").cast("decimal(38,0)") * col("q") -
      col("s").cast("decimal(38,0)") * col("s")).cast("double") /
      (nd * (nd - 1))
    g.select(col("user_id"), col("n").as("n_gaps"),
      // s/(n·10⁶) is the round-tie class — bridge it
      graft.functions.ExactRound.ratio(col("s"), col("n") * 100L, 0)
        .divide(lit(10000.0)).as("mean_gap_secs"),
      round(sqrt(varr) / mu, 4).as("cv"))
  }

  /** Peak event burst per user: the busiest minute (events in one
    * clock minute) and the burst ratio vs the user's mean per active
    * minute — the rate-anomaly screen. All-integer. */
  def burstMinutes(events: DataFrame): DataFrame = {
    val minuteBucket = call_function("div", unix_micros(col("ts")),
      lit(60000000L))
    val perMin = events.groupBy(col("user_id"),
        minuteBucket.as("minute"))
      .agg(count(lit(1)).cast("long").as("c"))
    perMin.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_active_minutes"),
        sum(col("c")).cast("long").as("n_events"),
        max(col("c")).cast("long").as("peak_minute_events"))
      .select(col("user_id"), col("n_active_minutes"),
        col("n_events"), col("peak_minute_events"),
        graft.functions.ExactRound.ratio(
          col("peak_minute_events") * col("n_active_minutes") * 10000,
          col("n_events"), 0).divide(lit(10000.0)).as("burst_ratio"))
  }

  /** windowFunnel: the deepest ordered step chain
    * `steps(0) → steps(1) → steps(2)` completed within `windowUs`
    * micros of the anchor step, per user. Greedy-earliest chains are
    * optimal for existence (taking the earliest next step can only
    * leave more window), so two struct-min window passes — "next
    * purchase after me" then "(earliest next view, ITS next
    * purchase)" — replace any event-pair join; per-user counts of the
    * max level reached. All-integer micros on the shared user
    * ordering. */
  def windowFunnel(events: DataFrame,
                   steps: Seq[String] = Seq("click", "view",
                     "purchase"),
                   windowUs: Long = 6L * 3600 * 1000000): DataFrame = {
    require(steps.size == 3, "three-step funnel")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    val wf = w.rowsBetween(1, Window.unboundedFollowing)
    val base = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"), col("event_type").as("t"))
    val withP = base.withColumn("np",
      min(when(col("t") === steps(2), col("us"))).over(wf))
    // a MaxValue sentinel keeps the struct ordering total when two
    // views share a microsecond and one has no following purchase
    val withV = withP.withColumn("vs",
      min(when(col("t") === steps(1),
        struct(col("us").as("vts"),
          coalesce(col("np"), lit(Long.MaxValue)).as("pts"))))
        .over(wf))
    val lvl = withV.where(col("t") === steps(0))
      .select(col("user_id"), col("us"),
        when(col("vs").isNotNull &&
          col("vs.vts") <= col("us") + windowUs,
          when(col("vs.pts") <= col("us") + windowUs, lit(3L))
            .otherwise(lit(2L)))
          .otherwise(lit(1L)).as("level"))
    lvl.groupBy(col("user_id"))
      .agg(max(col("level")).cast("long").as("funnel_level"))
      .groupBy(col("funnel_level"))
      .agg(count(lit(1)).cast("long").as("n_users"))
  }

  /** Equal-weight market index: the bridge-exact per-date market mean
    * return chains into a level via `exp(Σ ln(1+r))` — each log term
    * rounds to a 10dp decimal before the running sum, so the
    * accumulation is order-free and the only doubles are the final
    * exp/round. Starts at 100. One bounded date-frame window. */
  def marketIndex(staged: DataFrame): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val mkt = staged.where(col("pct_change").isNotNull)
      .select(col("date"), x4.as("x"))
      .groupBy(col("date"))
      .agg(count(lit(1)).cast("long").as("nm"),
        sum(col("x")).cast("long").as("sm"))
      .select(col("date"), col("nm"),
        (when(col("sm") < 0,
          -call_function("div", abs(col("sm")) * 2 + col("nm"),
            col("nm") * 2))
          .otherwise(call_function("div",
            abs(col("sm")) * 2 + col("nm"), col("nm") * 2)))
          .as("m4"))
    // index construction winsorizes the market move at ±10% — the
    // fixture's near-zero closes produce 10⁵%-scale "returns" that
    // would blow the level past 1e19 (and into exp-ulp territory)
    val m4c = least(greatest(col("m4"), lit(-100000L)), lit(100000L))
    val lr = round(log(lit(1.0) +
      m4c.cast("double") / 1000000), 10).cast("decimal(38,10)")
    // unpartitioned cumulative window over the per-DATE index frame —
    // span-bounded (scale-audit r13)
    val w = Window.orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mkt.withColumn("_lr", lr)
      .withColumn("_cum", sum(col("_lr")).over(w).cast("double"))
      .select(graft.queries.iso(col("date")).as("date"), col("nm"),
        (m4c.cast("double") / 10000).as("mkt_ret"),
        round(lit(100.0) * exp(col("_cum")), 4).as("index_level"))
  }

  /** Peak session concurrency per day — the sweep-line classic: +1 at
    * each session start, −1 past its end, running sum over the
    * (time, delta) order (ends process before starts at the same
    * instant), max per calendar day. All-integer, deterministic total
    * order. */
  def peakConcurrency(sessions: DataFrame): DataFrame = {
    val starts = sessions.select(col("start_us").cast("long").as("us"),
      lit(1L).as("delta"))
    val ends = sessions.select((col("end_us").cast("long") + 1)
      .as("us"), lit(-1L).as("delta"))
    // scale-safe sweep line: two-phase prefix sum instead of a
    // single-partition window over every session endpoint. Ties on
    // (us, delta) are harmless here exactly as they were in the
    // single-partition form: within a tie run the multiset of running
    // sums is order-invariant, and the output only keeps
    // max-per-day over start rows.
    Ranks.prefixSums(starts.union(ends),
        Seq(col("us").asc, col("delta").asc),
        values = Seq("cc" -> col("delta")))
      .where(col("delta") === 1)
      .select(graft.queries.iso(to_date(timestamp_micros(col("us"))))
        .as("date"), col("cc"))
      .groupBy(col("date"))
      .agg(max(col("cc")).cast("long").as("peak_concurrent"))
  }

  /** Global 2-D histogram of (close, volume): equal-width clamped
    * bins over each axis's extent (the Drift.psi bin arithmetic,
    * engine-identical doubles), exact cell counts and shares — the
    * density grid a scatter dashboard bins server-side. One bounded
    * extent broadcast + one (bx, by) hash aggregate. */
  def hist2d(bars: DataFrame, bins: Int = 8): DataFrame = {
    val ext = bars.agg(min(col("close")).as("cmin"),
      max(col("close")).as("cmax"),
      min(col("volume").cast("double")).as("vmin"),
      max(col("volume").cast("double")).as("vmax"))
    def bin(v: Column, lo: Column, hi: Column): Column =
      when(hi === lo, lit(0L))
        .otherwise(least(greatest(floor(((v - lo) * bins) / (hi - lo)),
          lit(0.0)), lit(bins - 1.0)).cast("long"))
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    bars.crossJoin(broadcast(ext))
      .select(bin(col("close"), col("cmin"), col("cmax")).as("bin_x"),
        bin(col("volume").cast("double"), col("vmin"), col("vmax"))
          .as("bin_y"))
      .groupBy(col("bin_x"), col("bin_y"))
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("_t", sum(col("n")).over(tot).cast("long"))
      .select(col("bin_x"), col("bin_y"), col("n"),
        graft.functions.ExactRound.ratio(col("n"), col("_t"), 4)
          .as("share"))
  }

  /** Churn-definition sensitivity: how many users count as churned
    * under each inactivity threshold (days since last activity as of
    * the corpus max date) — the one-pass readout that keeps teams
    * from anchoring on an arbitrary cutoff. Exact integer day
    * arithmetic, bounded output. */
  def churnSensitivity(events: DataFrame,
                       thresholds: Seq[Int] = Seq(7, 14, 28))
      : DataFrame = {
    val ext = events.agg(max(to_date(col("ts"))).as("asof"))
    val last = events.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_d"))
      .crossJoin(broadcast(ext))
      .select(datediff(col("asof"), col("last_d")).cast("long")
        .as("idle"))
    val aggs = thresholds.map(t =>
      sum(when(col("idle") >= t, 1L).otherwise(0L)).cast("long")
        .as(s"churned_${t}d"))
    val g = last.agg(count(lit(1)).cast("long").as("n_users"),
      aggs: _*)
    // long → rows: one row per threshold with the exact churn rate
    thresholds.map { t =>
      g.select(lit(t.toLong).as("threshold_days"), col("n_users"),
        col(s"churned_${t}d").as("n_churned"),
        graft.functions.ExactRound.ratio(col(s"churned_${t}d"),
          col("n_users"), 4).as("churn_rate"))
    }.reduce(_.union(_))
  }

  /** Daily whale-dominance share: the exact share of each day's
    * events produced by its top-`k` users (rank by count desc, user
    * asc). Heavy whale share means per-key partitions skew — the
    * event-side twin of the relational key-skew diagnostic. */
  def whaleShare(events: DataFrame, k: Int = 10): DataFrame = {
    val cnt = events.groupBy(to_date(col("ts")).as("d"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("c"))
    val w = Window.partitionBy(col("d"))
      .orderBy(col("c").desc, col("user_id").asc)
    cnt.withColumn("rn", row_number().over(w))
      .groupBy(col("d"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("c")).cast("long").as("n_events"),
        sum(when(col("rn") <= k, col("c")).otherwise(0L)).cast("long")
          .as("top_events"))
      .select(graft.queries.iso(col("d")).as("date"), col("n_users"),
        col("n_events"),
        graft.functions.ExactRound.ratio(col("top_events"),
          col("n_events"), 4).as("whale_share"))
  }

  /** Activity-calendar gap audit per user: span vs active days,
    * missing-day total, and the longest silent stretch — one lag pass
    * over each user's distinct activity dates, all-integer day
    * arithmetic. The per-key summary the q151 gap-FILL operator is
    * sized from. */
  def calendarGaps(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val gapped = days
      .withColumn("gap",
        (datediff(col("d"), lag(col("d"), 1).over(w)) - 1).cast("long"))
    gapped.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("active_days"),
        (datediff(max(col("d")), min(col("d"))) + 1).cast("long")
          .as("span_days"),
        coalesce(sum(col("gap")), lit(0L)).cast("long")
          .as("missing_days"),
        coalesce(max(col("gap")), lit(0L)).cast("long")
          .as("longest_gap"))
      .withColumn("coverage", graft.functions.ExactRound.ratio(
        col("active_days"), col("span_days"), 4))
  }

  /** Activity-decile migration matrix: users ranked into deciles by
    * event count in the first and second half of the observation
    * window (exact split at the median event date), with the joint
    * counts — who climbs, who churns. All ranks are deterministic
    * total orders; output is the bounded deciles² grid. */
  def decileMigration(events: DataFrame, buckets: Int = 10): DataFrame = {
    val ext = events.agg(min(to_date(col("ts"))).as("lo"),
      max(to_date(col("ts"))).as("hi"))
    val tagged = events.crossJoin(broadcast(ext))
      .select(col("user_id"),
        when(datediff(to_date(col("ts")), col("lo")) * 2 <=
          datediff(col("hi"), col("lo")), lit("a")).otherwise(lit("b"))
          .as("half"))
    val cnt = tagged.groupBy(col("user_id"), col("half"))
      .agg(count(lit(1)).cast("long").as("c"))
    // scale-safe exact ntile over the per-user frame (two-phase
    // row_number + closed-form bucket; no single-partition window)
    def deciles(h: String) =
      Ranks.distributedNtile(cnt.where(col("half") === h),
          Seq(col("c").desc, col("user_id").asc), buckets, "dec")
        .select(col("user_id"), col("dec").cast("long").as(s"dec_$h"))
    deciles("a").join(deciles("b"), Seq("user_id"), "outer")
      .groupBy(coalesce(col("dec_a"), lit(0L)).as("decile_first"),
        coalesce(col("dec_b"), lit(0L)).as("decile_second"))
      .agg(count(lit(1)).cast("long").as("n_users"))
  }

  /** Forecast-backtest error table per key: MAE of the naive (lag-1)
    * and seasonal-naive (lag-`season`) close forecasts on exact 4dp
    * scaled longs, and MASE = MAE_seasonal/MAE_naive through one
    * exact integer bridge (`Σs·n_n / (n_s·Σn)` — counts folded in).
    * The accuracy floor every fancier forecaster must beat. One
    * window + one hash aggregate. */
  def forecastErrors(staged: DataFrame, season: Int = 7,
                     minDays: Int = 20): DataFrame = {
    val c4 = fixed4(col("close"))
    val w = WindowFns.series(col("user_id"), col("date"))
    val src = staged.select(col("user_id"), col("date"), c4.as("c"))
      .withColumn("e1", abs(col("c") - lag(col("c"), 1).over(w)))
      .withColumn("es", abs(col("c") - lag(col("c"), season).over(w)))
    val g = src.groupBy(col("user_id"))
      .agg(count(col("e1")).cast("long").as("n1"),
        sum(col("e1")).cast("long").as("s1"),
        count(col("es")).cast("long").as("ns"),
        sum(col("es")).cast("long").as("ss"))
      .where(col("n1") >= minDays && col("ns") >= minDays &&
        col("s1") > 0)
    g.select(col("user_id"), col("n1").as("n_naive"),
      col("ns").as("n_seasonal"),
      graft.functions.ExactRound.ratio(col("s1"),
        col("n1") * 10000L, 4).as("mae_naive"),
      graft.functions.ExactRound.ratio(col("ss"),
        col("ns") * 10000L, 4).as("mae_seasonal"),
      graft.functions.ExactRound.ratio(col("ss") * col("n1"),
        col("ns") * col("s1"), 4).as("mase"))
  }

  /** Strong/weak-market capture ratios per key against the
    * equal-weight market: days split at the market's own DISCRETE
    * MEDIAN daily return (the fixture market drifts upward — a 0
    * split never binds; relative strength does), then
    * `capture = Σret / Σmarket` on each side (counts cancel in the
    * mean-over-mean). The per-date market mean is a bounded aggregate
    * bridge-rounded to an exact 4dp scaled long and broadcast back;
    * the final ratios divide two deterministic doubles. */
  def captureRatios(staged: DataFrame, minEach: Int = 5): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), col("date"), x4.as("x"))
    // equal-weight market return per date, itself bridge-rounded to a
    // 4dp scaled long so both engines carry the identical integer
    val mkt0 = src.groupBy(col("date"))
      .agg(count(lit(1)).cast("long").as("nm"),
        sum(col("x")).cast("long").as("sm"))
      .select(col("date"),
        (when(col("sm") < 0,
          -call_function("div", abs(col("sm")) * 2 + col("nm"),
            col("nm") * 2))
          .otherwise(call_function("div",
            abs(col("sm")) * 2 + col("nm"), col("nm") * 2)))
          .as("m4"))
    // unpartitioned rank over the per-DATE market frame — span-bounded
    // (scale-audit r13)
    val wMed = Window.orderBy(col("m4").asc, col("date").asc)
    val mkt = mkt0
      .withColumn("_rn", row_number().over(wMed))
      .withColumn("_n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("_med", max(when(col("_rn") === call_function("div",
        col("_n") + 1, lit(2L)), col("m4"))).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .where(col("m4") =!= col("_med"))
      .select(col("date"), col("m4"), col("_med"))
    val j = src.join(broadcast(mkt), Seq("date"))
    val up = col("m4") > col("_med")
    val g = j.groupBy(col("user_id"))
      .agg(csum(up, lit(1L)).as("nu"), csum(up, col("x")).as("su"),
        csum(up, col("m4")).as("mu"),
        csum(!up, lit(1L)).as("nd"), csum(!up, col("x")).as("sd"),
        csum(!up, col("m4")).as("md"))
      .where(col("nu") >= minEach && col("nd") >= minEach)
    // mean_key/mean_mkt = (su/nu)/(mu/nu) = su/mu — counts cancel
    g.select(col("user_id"), col("nu").as("n_strong_days"),
      col("nd").as("n_weak_days"),
      round(col("su").cast("double") /
        nullif(col("mu").cast("double"), lit(0.0)), 4)
        .as("strong_capture"),
      round(col("sd").cast("double") /
        nullif(col("md").cast("double"), lit(0.0)), 4)
        .as("weak_capture"))
  }

  /** Inter-purchase gap profile per customer: exact day gaps between
    * consecutive orders, the discrete median gap (rank ⌈n/2⌉), and the
    * extremes — the replenishment-cycle readout. One window + one
    * hash agg on the customer key. */
  def orderGaps(orders: DataFrame, minOrders: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val gaps = orders
      .withColumn("gap", datediff(col("o_orderdate"),
        lag(col("o_orderdate"), 1).over(w)).cast("long"))
      .where(col("gap").isNotNull)
    val wr = Window.partitionBy(col("o_custkey"))
      .orderBy(col("gap").asc, col("o_orderkey").asc)
    val ranked = gaps.withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("o_custkey"))))
    ranked.groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("long").as("n_gaps"),
        sum(col("gap")).cast("long").as("_sg"),
        max(when(col("rn") === call_function("div", col("n") + 1,
          lit(2L)), col("gap"))).as("median_gap"),
        min(col("gap")).cast("long").as("min_gap"),
        max(col("gap")).cast("long").as("max_gap"))
      .where(col("n_gaps") >= minOrders - 1)
      .select(col("o_custkey"), col("n_gaps"),
        graft.functions.ExactRound.ratio(col("_sg"), col("n_gaps"), 4)
          .as("mean_gap"),
        col("median_gap"), col("min_gap"), col("max_gap"))
  }

  /** Price-staleness audit per key: days with ZERO change, the longest
    * consecutive stale run (gaps-and-islands on the zero flag), and
    * the stale share — a flatlined feed reads here before it poisons
    * downstream indicators. One window pass + one hash agg. */
  def priceStaleness(staged: DataFrame, minDays: Int = 5): DataFrame = {
    val x4 = fixed4(col("price_change"))
    val w = WindowFns.series(col("user_id"), col("date"))
    val src = staged.where(col("price_change").isNotNull)
      .select(col("user_id"), col("date"),
        (x4 === 0).cast("long").as("st"))
      // island id: running count of NON-stale rows — constant inside
      // each stale run
      .withColumn("isl", sum(lit(1L) - col("st")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = src.where(col("st") === 1)
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).cast("long").as("run"))
      .groupBy(col("user_id"))
      .agg(max(col("run")).cast("long").as("max_stale_run"))
    val g = src.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("st")).cast("long").as("n_stale"))
      .where(col("n_days") >= minDays)
    g.join(runs, Seq("user_id"), "left")
      .select(col("user_id"), col("n_days"), col("n_stale"),
        coalesce(col("max_stale_run"), lit(0L)).as("max_stale_run"),
        graft.functions.ExactRound.ratio(col("n_stale"),
          col("n_days"), 4).as("stale_share"))
  }

  /** Time-underwater table per key: the running peak (ties → the most
    * recent peak date), whether today sits below it, and the days
    * since that peak — drawdown DURATION, the companion of the q143
    * drawdown DEPTH. One unbounded struct-max window on the series
    * key; all-integer day arithmetic. */
  def timeUnderwater(bars: DataFrame): DataFrame = {
    val c4 = fixed4(col("close"))
    val w = WindowFns.series(col("user_id"), col("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peak = max(struct(col("_c4").as("c"), col("date").as("d")))
      .over(w)
    bars.withColumn("_c4", c4)
      .withColumn("_pk", peak)
      .select(col("user_id"), col("date"),
        (col("_pk.c").cast("double") / 10000).as("peak_close"),
        graft.queries.iso(col("_pk.d")).as("peak_date"),
        (col("_c4") < col("_pk.c")).cast("long").as("underwater"),
        datediff(col("date"), col("_pk.d")).cast("long")
          .as("days_underwater"))
      .withColumn("date", graft.queries.iso(col("date")))
  }

  /** Round-number clustering bias per key: the share of closes landing
    * exactly on whole / half price points (the classic microstructure
    * clustering audit — synthetic or truncated feeds overshoot it).
    * Pure integer mod arithmetic on 4dp cents + exact bridges. */
  def roundNumberBias(bars: DataFrame, minDays: Int = 5): DataFrame = {
    val c4 = fixed4(col("close"))
    bars.withColumn("_c4", c4)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(when(col("_c4") % 10000 === 0, 1L).otherwise(0L))
          .cast("long").as("n_whole"),
        sum(when(col("_c4") % 5000 === 0, 1L).otherwise(0L))
          .cast("long").as("n_half"))
      .where(col("n_days") >= minDays)
      .select(col("user_id"), col("n_days"), col("n_whole"),
        col("n_half"),
        graft.functions.ExactRound.ratio(col("n_whole"),
          col("n_days"), 4).as("whole_share"),
        graft.functions.ExactRound.ratio(col("n_half"),
          col("n_days"), 4).as("half_share"))
  }

  /** Kendall tau-b between volume and |return| per key: concordant/
    * discordant counts over all date pairs with EXACT tie corrections
    * `τ_b = (C−D)/√((n₀−t_x)(n₀−t_y))` — everything integer until the
    * final √. The pair join is quadratic in each key's OWN series
    * length (bounded by the eval window), never across keys. */
  def kendallTau(staged: DataFrame, minDays: Int = 20): DataFrame = {
    val y4 = fixed4(abs(col("pct_change")))
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), col("date"),
        col("volume").cast("long").as("x"), y4.as("y"))
    val a = src.select(col("user_id"), col("date").as("d1"),
      col("x").as("x1"), col("y").as("y1"))
    val b = src.select(col("user_id"), col("date").as("d2"),
      col("x").as("x2"), col("y").as("y2"))
    val pairs = a.join(b, Seq("user_id")).where(col("d1") < col("d2"))
    val sx = signum((col("x1") - col("x2")).cast("double"))
    val sy = signum((col("y1") - col("y2")).cast("double"))
    val g = pairs.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n0"),
        sum(when(sx * sy > 0, 1L).otherwise(0L)).cast("long").as("c"),
        sum(when(sx * sy < 0, 1L).otherwise(0L)).cast("long").as("dd"),
        sum(when(sx === 0 && sy =!= 0, 1L).otherwise(0L)).cast("long")
          .as("tx"),
        sum(when(sy === 0 && sx =!= 0, 1L).otherwise(0L)).cast("long")
          .as("ty"),
        sum(when(sx === 0 && sy === 0, 1L).otherwise(0L)).cast("long")
          .as("txy"))
    val den = sqrt((col("n0") - col("tx") - col("txy")).cast("double") *
      (col("n0") - col("ty") - col("txy")).cast("double"))
    g.where(col("n0") >= minDays.toLong * (minDays - 1) / 2)
      .select(col("user_id"), col("n0").as("n_pairs"), col("c"),
        col("dd").as("d"),
        round((col("c") - col("dd")).cast("double") /
          nullif(den, lit(0.0)), 4).as("tau_b"))
  }

  /** One-way ANOVA of daily returns by weekday per key: between/within
    * sums of squares from EXACT scaled-long group moments,
    * `F = (SSB/(k−1))/(SSW/(n−k))` — does the day of week matter at
    * all (the omnibus complement of the q234 weekend pair test). Two
    * bounded hash aggregates on the key. */
  def dowAnova(staged: DataFrame, minN: Int = 20): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val dow = graft.functions.Indicators.dayOfWeekMon0(col("date"))
      .cast("long")
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), dow.as("g"), x4.as("x"))
    val per = src.groupBy(col("user_id"), col("g"))
      .agg(count(lit(1)).cast("long").as("ng"),
        sum(col("x")).cast("long").as("sg"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("qg"))
    val tot = per.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("k"),
        sum(col("ng")).cast("long").as("n"),
        sum(col("sg")).cast("long").as("s"),
        sum(col("qg")).as("q"),
        // Σ s_g²/n_g as an exact 6dp-scaled decimal per group is
        // still inexact; instead carry Σ over groups of the exact
        // rational via a common denominator: SSB·Πn_g explodes, so
        // use the double of each EXACT integer pair — deterministic
        sum(round(col("sg").cast("double") * col("sg") / col("ng"), 6)
          .cast("decimal(38,6)")).cast("double").as("sb"))
      .where(col("n") >= minN && col("k") > 1)
    val nd = col("n").cast("double")
    val ssb = col("sb") - col("s").cast("double") * col("s") / nd
    val ssw = col("q").cast("double") - col("sb")
    val f = (ssb / (col("k") - 1).cast("double")) /
      nullif(ssw / (col("n") - col("k")).cast("double"), lit(0.0))
    tot.select(col("user_id"), col("n").as("n_days"),
      col("k").as("n_groups"), round(f, 4).as("f_stat"))
  }

  /** Do extreme days cluster? Count of |return| > `thresholdPct` days,
    * adjacent extreme pairs, and the exact expected adjacency under
    * independence `(n_ext/n)²·(n−1)` — a clustering ratio ≫ 1 reads
    * volatility clustering without any GARCH machinery. One window +
    * one hash aggregate, all-integer until two bridges. */
  def extremeClustering(staged: DataFrame, thresholdPct: Double = 5.0,
                        minExt: Int = 3): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val t4 = math.round(thresholdPct * 10000)
    val w = WindowFns.series(col("user_id"), col("date"))
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), col("date"),
        (abs(x4) > t4).cast("long").as("e"))
      .withColumn("pe", lag(col("e"), 1).over(w))
    val g = src.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("e")).cast("long").as("n_ext"),
        sum(when(col("e") === 1 && col("pe") === 1, 1L).otherwise(0L))
          .cast("long").as("n_adj"))
      .where(col("n_ext") >= minExt && col("n") > 1)
    // expected = n_ext²·(n−1)/n² — exact bridge at 4dp
    g.select(col("user_id"), col("n").as("n_days"), col("n_ext"),
      col("n_adj"),
      graft.functions.ExactRound.ratio(
        col("n_ext") * col("n_ext") * (col("n") - 1) * 10000,
        col("n") * col("n"), 0).divide(lit(10000.0))
        .as("expected_adj"))
  }

  /** Cross-sectional daily rank table: each key's return ranked
    * against every other key THAT DAY (total order: return desc, key
    * asc), with exact-bridge percent rank and cumulative distribution
    * — the relative-strength view orthogonal to the per-key series
    * stack. One window on the date partition. */
  def crossSectionalRank(staged: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("date"))
      .orderBy(col("pct_change").desc, col("user_id").asc)
    staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), col("date"), col("pct_change"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("_n",
        count(lit(1)).over(Window.partitionBy(col("date")))
          .cast("long"))
      .where(col("_n") > 1)
      .select(col("user_id"), col("date"), col("pct_change"),
        col("rnk"), col("_n").as("n_cross"),
        graft.functions.ExactRound.ratio(col("rnk") - 1,
          col("_n") - 1, 6).as("pct_rank"),
        graft.functions.ExactRound.ratio(col("rnk"), col("_n"), 6)
          .as("cume_dist"))
  }

  /** Ljung-Box portmanteau statistic per key over the first `maxLag`
    * return autocorrelations: `Q = n(n+2)·Σ_k ρ_k²/(n−k)` with ρ_k the
    * same lag-paired Pearson the ACF table (q153) reports — "is there
    * ANY serial structure", one number per key. The lag explode is
    * maxLag× linear; moments per (key, lag) aggregate on the shared
    * key Exchange. */
  def ljungBox(staged: DataFrame, maxLag: Int = 5,
               minN: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("date"))
    val r = staged.select(col("user_id"), col("date"),
        col("pct_change").as("ret"))
      .where(col("ret").isNotNull)
    val withLags = r.select(Seq(col("user_id"), col("ret")) ++
      (1 to maxLag).map(k => lag(col("ret"), k).over(w).as(s"l$k")): _*)
    val perLag = withLags
      .select(col("user_id"), explode(array((1 to maxLag).map(k =>
        struct(lit(k).cast("long").as("lag"), col("ret"),
          col(s"l$k").as("lret"))): _*)).as("e"))
      .select(col("user_id"), col("e.lag"), col("e.ret"), col("e.lret"))
      .where(col("lret").isNotNull)
      .groupBy(col("user_id"), col("lag"))
      .agg(corr(col("ret"), col("lret")).as("rho"))
    val nPer = r.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"))
    perLag.join(nPer, Seq("user_id"))
      .where(col("n") >= minN)
      // each lag term rounds to a 10dp decimal before the sum, so the
      // Σ is exact and order-free (maxLag doubles would otherwise sum
      // in partition order)
      .withColumn("_t", round(col("rho") * col("rho") /
        (col("n") - col("lag")).cast("double"), 10)
        .cast("decimal(38,10)"))
      .groupBy(col("user_id"), col("n"))
      .agg(sum(col("_t")).cast("double").as("_s"))
      .select(col("user_id"), col("n").as("n_days"),
        round(col("n").cast("double") * (col("n") + 2) * col("_s"), 4)
          .as("q_stat"))
  }

  /** AR(1) mean-reversion readout per key: OLS of Δclose on the
    * lagged close — all OLS moments on exact 4dp scaled longs (the
    * 10⁴ lift cancels in β) — and the implied half-life
    * `−ln2/ln(1+β)` for keys in the mean-reverting band −1<β<0.
    * One window + one hash aggregate. */
  def meanReversion(staged: DataFrame, minDays: Int = 20): DataFrame = {
    val c4 = fixed4(col("close"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("date"))
    val src = staged.select(col("user_id"), col("date"), c4.as("c"))
      .withColumn("xl", lag(col("c"), 1).over(w))
      .where(col("xl").isNotNull)
      .select(col("user_id"), col("xl").as("x"),
        (col("c") - col("xl")).as("y"))
    val xd = col("x").cast("decimal(38,0)")
    val g = src.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(xd * col("y")).as("sxy"),
        sum(xd * col("x")).as("sxx"))
      .where(col("n") >= minDays)
    val num = (col("n") * col("sxy") -
      col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    val beta = num / nullif(den, lit(0.0))
    val hl = when(beta > -1 && beta < 0,
      -log(lit(2.0)) / log(lit(1.0) + beta))
    g.select(col("user_id"), col("n").as("n_days"),
      round(beta, 6).as("beta"), round(hl, 4).as("half_life_days"))
  }

  /** Shannon entropy of each user's event-type mix (nats, plus the
    * 0-1 evenness normalized by ln of the types present): `H = ln n −
    * (Σ c·ln c)/n` from exact integer counts — how specialized is
    * each user's behavior. Two bounded hash aggregates. */
  def activityEntropy(events: DataFrame): DataFrame = {
    val cnt = events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("c"))
    cnt.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_types"),
        sum(col("c")).cast("long").as("n"),
        // per-type terms round to 6dp decimals — exact order-free sum
        sum(round(col("c").cast("double") *
            log(col("c").cast("double")), 6).cast("decimal(28,6)"))
          .cast("double").as("_sclc"))
      .select(col("user_id"), col("n_types"), col("n"),
        round(log(col("n").cast("double")) - col("_sclc") / col("n"),
          4).as("entropy_nats"),
        round((log(col("n").cast("double")) - col("_sclc") / col("n"))
          / nullif(log(col("n_types").cast("double")), lit(0.0)), 4)
          .as("evenness"))
  }

  /** Volume-spike anomalies: each day's volume z-scored against the
    * PRIOR `period` days (frame excludes the current row — an anomaly
    * must not dampen its own baseline), gated at a full window. One
    * window Exchange on the series key; flags are pure column algebra. */
  def volumeAnomalies(bars: DataFrame, period: Int = 14,
                      zThreshold: Double = 3.0): DataFrame = {
    val f = Window.partitionBy(col("user_id")).orderBy(col("date"))
      .rowsBetween(-period, -1)
    // stage each distinct window aggregate once (per-occurrence
    // extraction: the inline form planned count ×3 — once per gate
    // reference, doubled again inside NULLIF — and stddev ×2)
    bars.select(col("user_id"), col("date"), col("volume"))
      .withColumn("_n", count(col("volume")).over(f))
      .withColumn("_mu", avg(col("volume")).over(f))
      .withColumn("_sd", stddev_samp(col("volume")).over(f))
      .withColumn("vol_z",
        round((col("volume") - when(col("_n") >= period, col("_mu")))
          / nullif(when(col("_n") >= period, col("_sd")), lit(0)), 4))
      .withColumn("is_anomaly",
        (abs(col("vol_z")) >= zThreshold).cast("long"))
      .drop("_n", "_mu", "_sd")
  }

  /** Distinct active users over a trailing `windowDays` calendar window
    * ending at each observed activity date — rolling WAU. Each distinct
    * (user, day) contributes to the `windowDays` dates it can be seen
    * from (a `sequence` explode — map-side, bounded ×windowDays
    * fan-out), then one distinct-count keyed by date; a semi-join on
    * observed dates drops phantom trailing dates. Linear in user-days
    * at any volume — never a per-date rescan of the window. */
  def rollingActiveUsers(events: DataFrame,
                         windowDays: Int = 7): DataFrame = {
    val ud = events.select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val dates = ud.select(col("d").as("date")).distinct()
    val contrib = ud.select(col("user_id"),
      explode(sequence(col("d"), date_add(col("d"), windowDays - 1)))
        .as("date"))
    contrib.join(dates, Seq("date"), "left_semi")
      .groupBy(col("date"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .select(graft.queries.iso(col("date")).as("date"),
        col("active_users"))
  }

  /** RFM segmentation: per-user recency (days since last activity,
    * against the corpus max date), frequency (event count), monetary
    * (exact DECIMAL value sum), each ntile-bucketed 1..`buckets` with
    * a user-id tiebreak so the ordering is total and the buckets are
    * engine-portable. The per-user rollup is one hash aggregate; the
    * three exact ntiles run scale-safely as
    * [[Ranks.distributedNtile]] (two-phase row_number + closed-form
    * bucket), so even extreme user cardinality never serializes
    * through one task. */
  def rfmSegments(events: DataFrame, buckets: Int = 5): DataFrame = {
    val per = events.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_d"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,2)")).as("mon"))
    val anchor = events.agg(max(to_date(col("ts"))).as("anchor"))
    val scored = per.crossJoin(broadcast(anchor))
      .withColumn("recency",
        datediff(col("anchor"), col("last_d")).cast("long"))
    val withR = Ranks.distributedNtile(scored,
      Seq(col("recency").asc, col("user_id").asc), buckets, "_rs")
    val withF = Ranks.distributedNtile(withR,
      Seq(col("frequency").desc, col("user_id").asc), buckets, "_fs")
    val withM = Ranks.distributedNtile(withF,
      Seq(col("mon").desc, col("user_id").asc), buckets, "_ms")
    withM.select(col("user_id"), col("recency"), col("frequency"),
        col("mon").cast("double").as("monetary"),
        col("_rs").cast("long").as("r_score"),
        col("_fs").cast("long").as("f_score"),
        col("_ms").cast("long").as("m_score"))
      .withColumn("segment",
        concat_ws("-", col("r_score"), col("f_score"), col("m_score")))
  }

  /** Per-key beta/alpha against the equal-weight market return (the
    * cross-sectional mean of that day's returns, all keys included).
    * β = covar_pop(r_u, r_m)/var_pop(r_m) per key, α = mean(r_u) −
    * β·mean(r_m). Two aggregates — one tiny per-date mean (broadcast
    * back), one per-key moment pass — both two-phase partial; the
    * market frame is |days| rows regardless of volume. */
  def marketBeta(staged: DataFrame, minDays: Int = 10): DataFrame = {
    val r = staged.select(col("user_id"), col("date"),
        col("pct_change").as("ret"))
      .where(col("ret").isNotNull)
    val market = r.groupBy(col("date"))
      .agg(avg(col("ret")).as("mkt_ret"))
    val joined = r.join(broadcast(market), Seq("date"))
    joined.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        (covar_pop(col("ret"), col("mkt_ret")) /
          var_pop(col("mkt_ret"))).as("_beta"),
        avg(col("ret")).as("_mu"), avg(col("mkt_ret")).as("_mum"))
      .where(col("n_days") >= minDays)
      .select(col("user_id"), col("n_days"),
        round(col("_beta"), 4).as("beta"),
        round(col("_mu") - col("_beta") * col("_mum"), 4).as("alpha"))
  }

  /** Aroon oscillator (TA-Lib convention): over the trailing
    * `period`+1 bars, `up = 100·(period − bars_since_highest_high)/
    * period`, `down` likewise for the lowest low — ties resolve to the
    * MOST RECENT extreme on both engines via lexicographic max of
    * (value, row_number) structs (negated low for the minimum). The
    * ratio is INTEGER/INTEGER through the exact bridge. One row_number
    * pass + two struct-max windows, all sharing the series Exchange;
    * rows without a full window gate to null. */
  def aroon(bars: DataFrame, period: Int = 25): DataFrame = {
    val w = WindowFns.series(col("user_id"), col("date"))
    val f = w.rowsBetween(-period, 0)
    val withRn = bars.withColumn("rn", row_number().over(w).cast("long"))
    val hiRn = max(struct(col("high").as("v"), col("rn").as("r")))
      .over(f).getField("r")
    val loRn = max(struct((-col("low")).as("v"), col("rn").as("r")))
      .over(f).getField("r")
    val full = count(lit(1)).over(f) >= period + 1
    def pct(extremeRn: org.apache.spark.sql.Column) =
      when(full, graft.functions.ExactRound.ratio(
        (lit(period) - (col("rn") - extremeRn)) * 100, lit(period), 4))
    withRn.select(col("user_id"), col("date"), col("high"), col("low"),
      pct(hiRn).as("aroon_up"), pct(loRn).as("aroon_down"))
  }

  /** Longest up/down close-to-close streaks per key — gaps-and-islands
    * on the SIGN of the daily price change (island id = global
    * row_number minus per-direction row_number). All-integer: counts
    * only. Two sort-windows sharing the key + two bounded hash
    * aggregates; flat (zero-change) days break streaks but are counted
    * in `n_days`. */
  def streaks(staged: DataFrame): DataFrame = {
    val w = WindowFns.series(col("user_id"), col("date"))
    val changed = staged.where(col("price_change").isNotNull)
      .withColumn("dir", signum(col("price_change")).cast("int"))
    val wd = Window.partitionBy(col("user_id"), col("dir"))
      .orderBy(col("date"))
    val runs = changed
      .withColumn("grp",
        row_number().over(w) - row_number().over(wd))
      .groupBy(col("user_id"), col("dir"), col("grp"))
      .agg(count(lit(1)).as("len"))
    runs.groupBy(col("user_id"))
      .agg(sum(col("len")).cast("long").as("n_days"),
        coalesce(max(when(col("dir") === 1, col("len"))), lit(0L))
          .cast("long").as("longest_up"),
        coalesce(max(when(col("dir") === -1, col("len"))), lit(0L))
          .cast("long").as("longest_down"))
  }

  /** Candlestick pattern census per key: doji (body ≤ 10% of range),
    * hammer (lower shadow ≥ 2× body, upper ≤ body), and bullish/
    * bearish engulfing vs the previous bar's body. Flags are pure
    * double comparisons (deterministic — no rounding emitted); the
    * output is integer counts. One LAG window + one hash aggregate. */
  def candlePatterns(bars: DataFrame): DataFrame = {
    val w = WindowFns.series(col("user_id"), col("date"))
    val body = abs(col("close") - col("open"))
    val range = col("high") - col("low")
    val upper = col("high") - greatest(col("open"), col("close"))
    val lower = least(col("open"), col("close")) - col("low")
    val po = lag(col("open"), 1).over(w)
    val pc = lag(col("close"), 1).over(w)
    val doji = range > 0 && body <= lit(0.1) * range
    val hammer = range > 0 && lower >= lit(2) * body && upper <= body
    val bull = pc < po && col("close") > col("open") &&
      col("open") <= pc && col("close") >= po
    val bear = pc > po && col("close") < col("open") &&
      col("open") >= pc && col("close") <= po
    def n(c: org.apache.spark.sql.Column) =
      sum(c.cast("long")).cast("long")
    bars.select(col("user_id"), col("date"),
        doji.as("doji"), hammer.as("hammer"),
        coalesce(bull, lit(false)).as("bull"),
        coalesce(bear, lit(false)).as("bear"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"), n(col("doji")).as("n_doji"),
        n(col("hammer")).as("n_hammer"),
        n(col("bull")).as("n_bull_engulf"),
        n(col("bear")).as("n_bear_engulf"))
  }

  /** Roll's implied effective spread per key:
    * `s = 2·√(−cov(Δp_t, Δp_{t−1}))` when the serial covariance of
    * price changes is negative (bid-ask bounce), null otherwise — the
    * classic microstructure estimate from trade prices alone. One LAG
    * window + one per-key moment aggregate (two-phase); keys with
    * fewer than `minDays` changes drop. */
  def rollSpread(staged: DataFrame, minDays: Int = 10): DataFrame = {
    val w = WindowFns.series(col("user_id"), col("date"))
    // price_change is 4dp — lift to scaled longs so the co-moment is
    // EXACT integer arithmetic (float covar_pop's agg-order noise
    // lands on rounding boundaries at volume)
    val src = staged.where(col("price_change").isNotNull)
      .withColumn("x4", fixed4(col("price_change")))
      .withColumn("y4", lag(col("x4"), 1).over(w))
      .where(col("y4").isNotNull)
    val g = src.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("x4")).cast("long").as("sx"),
        sum(col("y4")).cast("long").as("sy"),
        sum(col("x4").cast("decimal(38,0)") * col("y4")).as("sxy"))
      .where(col("n") >= minDays)
    val cov = (col("n") * col("sxy")
      - col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
      (col("n") * col("n")).cast("double") / 100000000L
    g.select(col("user_id"), col("n"),
      round(cov, 6).as("serial_cov"),
      when(cov < 0, round(lit(2.0) * sqrt(-cov), 4)).as("roll_spread"))
  }

  /** Price-impact (Kyle-λ flavored) regression per key: OLS slope and
    * intercept of |Δp| on volume — how much a unit of volume moves
    * the price. Per-key moment aggregates (two-phase, the marketBeta
    * precedent); zero-variance volume yields null slope. */
  def priceImpact(staged: DataFrame, minDays: Int = 10): DataFrame = {
    // volume is an exact integer, |Δp| lifts to scaled longs → ALL
    // OLS moments are exact; only the final divisions are doubles
    val src = staged.where(col("price_change").isNotNull)
      .select(col("user_id"), col("volume").cast("long").as("x"),
        fixed4(abs(col("price_change"))).as("y4"))
    val g = src.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y4")).cast("long").as("sy4"),
        sum(col("x").cast("decimal(38,0)") * col("y4")).as("sxy4"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .where(col("n") >= minDays)
    val d = g.withColumn("_d",
      col("n") * col("sxx") - col("sx").cast("decimal(38,0)") * col("sx"))
    val num = col("n") * col("sxy4") -
      col("sx").cast("decimal(38,0)") * col("sy4")
    val slopeRaw = num.cast("double") /
      nullif(col("_d").cast("double"), lit(0.0)) / 10000
    val intercept = col("sy4").cast("double") / col("n") / 10000 -
      slopeRaw * (col("sx").cast("double") / col("n"))
    d.select(col("user_id"), col("n"),
      round(slopeRaw, 6).as("impact_slope"),
      round(intercept, 4).as("intercept"))
  }

  /** Weekend-effect readout per key: mean daily return on weekends vs
    * weekdays with Welch's t — every moment (sums, squares) runs on
    * the 4dp returns lifted to scaled longs, so both means and both
    * variances are EXACT integers until the final deterministic
    * doubles. One conditional aggregate per key. */
  def weekendEffect(staged: DataFrame, minEach: Int = 2): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val isW = (graft.functions.Indicators.dayOfWeekMon0(col("date"))
      >= 5).cast("long")
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), x4.as("x"), isW.as("w"))
    val g = src.groupBy(col("user_id"))
      .agg(csum(col("w") === 1, lit(1L)).as("nw"),
        csum(col("w") === 1, col("x")).as("sw"),
        sum(when(col("w") === 1, col("x").cast("decimal(38,0)")
          * col("x")).otherwise(lit(0).cast("decimal(38,0)")))
          .as("qw"),
        csum(col("w") === 0, lit(1L)).as("nd"),
        csum(col("w") === 0, col("x")).as("sd"),
        sum(when(col("w") === 0, col("x").cast("decimal(38,0)")
          * col("x")).otherwise(lit(0).cast("decimal(38,0)")))
          .as("qd"))
      .where(col("nw") >= minEach && col("nd") >= minEach)
    def mean(s: String, n: String) =
      col(s).cast("double") / col(n) / 10000
    def vr(q: String, s: String, n: String) =
      (col(n) * col(q) - col(s).cast("decimal(38,0)") * col(s))
        .cast("double") /
        (col(n) * (col(n) - 1)).cast("double") / 100000000L
    val t = (mean("sw", "nw") - mean("sd", "nd")) /
      sqrt(vr("qw", "sw", "nw") / col("nw") +
        vr("qd", "sd", "nd") / col("nd"))
    g.select(col("user_id"), col("nw").as("n_weekend"),
      col("nd").as("n_weekday"),
      mean4("sw", "nw").as("mean_weekend"),
      mean4("sd", "nd").as("mean_weekday"),
      round(t, 4).as("t_stat"))
  }

  /** Chi-square independence test of event type × day-of-week — "is
    * WHAT users do independent of WHEN": per-cell contributions
    * `(o·n − r·c)²/(n·r·c)` with the squared numerator held in
    * DECIMAL(38,0)/HUGEINT (it overflows a long), each cell rounded
    * through the exact half-up bridge and the total summed from the
    * exact scaled longs — no float aggregation anywhere. Bounded
    * (types × 7) output. */
  def chi2Independence(events: DataFrame): DataFrame = {
    val cells0 = events.groupBy(col("event_type"),
        graft.functions.Indicators.dayOfWeekMon0(to_date(col("ts")))
          .cast("long").as("dow"))
      .agg(count(lit(1)).as("o"))
    // the classical statistic runs over the FULL grid — empty cells
    // contribute their whole expectation, so rebuild types × dows
    val rows = cells0.groupBy(col("event_type"))
      .agg(sum(col("o")).cast("long").as("r"))
    val cols0 = cells0.groupBy(col("dow"))
      .agg(sum(col("o")).cast("long").as("c"))
    val cells = rows.crossJoin(broadcast(cols0))
      .join(cells0, Seq("event_type", "dow"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val m = cells
      .withColumn("n", (sum(col("o")).over(all)).cast("long"))
    val diff = col("o") * col("n") - col("r") * col("c")
    val num = diff.cast("decimal(38,0)") * diff
    val den = col("n") * col("r") * col("c")
    // scaled-long half-up cell term: round(num/den · 10⁴)
    val t4 = call_function("div",
      num * 20000 + den.cast("decimal(38,0)"),
      den.cast("decimal(38,0)") * 2).cast("long")
    val scored = m.withColumn("_t4", t4)
    scored.select(col("event_type"), col("dow"), col("o").as("observed"),
      graft.functions.ExactRound.ratio(col("r") * col("c"), col("n"), 2)
        .as("expected"),
      (col("_t4").cast("double") / 10000).as("cell_chi2"),
      (sum(col("_t4")).over(all).cast("double") / 10000).as("chi2_total"))
  }

  /** Days-to-first-conversion distribution: per user, days from first
    * observed activity to first `convType` event (−1 = never), then
    * the user-count histogram with exact shares. Two per-user min
    * aggregates + one bounded rollup. */
  def timeToConvert(events: DataFrame,
                    convType: String = "purchase"): DataFrame = {
    val per = events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"),
        min(when(col("event_type") === convType, to_date(col("ts"))))
          .as("conv_d"))
    val days = when(col("conv_d").isNotNull,
      datediff(col("conv_d"), col("first_d")).cast("long"))
      .otherwise(lit(-1L))
    val byD = per.select(days.as("days"))
      .groupBy(col("days")).agg(count(lit(1)).as("n_users"))
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    byD.withColumn("_t", sum(col("n_users")).over(tot).cast("long"))
      .select(col("days"), col("n_users"),
        graft.functions.ExactRound.ratio(col("n_users"),
          greatest(col("_t"), lit(1L)), 4).as("share"))
  }

  /** First-order Markov next-event predictor, evaluated honestly:
    * transition counts TRAIN on the first half of the window (ties →
    * next-type asc — total order), the per-state argmax predicts on
    * the second half, and the readout compares against the
    * train-half global-mode baseline. All counts exact; two bridge
    * accuracies in one row. The transition/prediction tables are
    * bounded by the event-type vocabulary and broadcast. */
  def markovEval(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ext = events.agg(min(to_date(col("ts"))).as("dmin"),
      max(to_date(col("ts"))).as("dmax"))
    val mid = date_add(col("dmin"),
      floor(datediff(col("dmax"), col("dmin")) / 2).cast("int"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"),
        to_date(col("ts")).as("d"), col("event_type").as("e"))
      .withColumn("next", lead(col("e"), 1).over(w))
      .where(col("next").isNotNull)
      .crossJoin(broadcast(ext))
      .withColumn("is_train", (col("d") <= mid).cast("long"))
    val train = pairs.where(col("is_train") === 1)
    val trans = train.groupBy(col("e"), col("next"))
      .agg(count(lit(1)).as("c"))
    val wPred = Window.partitionBy(col("e"))
      .orderBy(col("c").desc, col("next").asc)
    val pred = trans.withColumn("_rn", row_number().over(wPred))
      .where(col("_rn") === 1)
      .select(col("e"), col("next").as("pred"))
    val basePred = train.groupBy(col("next")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("next").asc).limit(1)
      .select(col("next").as("base_pred"))
    val test = pairs.where(col("is_train") === 0)
      .join(broadcast(pred), Seq("e"), "left")
      .crossJoin(broadcast(basePred))
    test.agg(count(lit(1)).as("n_test"),
        sum(coalesce(col("pred") === col("next"), lit(false))
          .cast("long")).cast("long").as("n_correct"),
        sum((col("base_pred") === col("next")).cast("long"))
          .cast("long").as("n_base_correct"))
      .select(col("n_test"),
        graft.functions.ExactRound.ratio(col("n_correct"),
          greatest(col("n_test"), lit(1L)), 4).as("acc_markov"),
        graft.functions.ExactRound.ratio(col("n_base_correct"),
          greatest(col("n_test"), lit(1L)), 4).as("acc_baseline"))
  }

  /** Activity heatmap over (day-of-week Mon=0 × hour): events,
    * distinct users, and the exact share of total events per cell —
    * the staffing/scheduling view. One hash aggregate over a bounded
    * 7×24 key space (distinct-count partials per cell). */
  def hourlyHeatmap(events: DataFrame): DataFrame = {
    val cells = events.groupBy(
        graft.functions.Indicators.dayOfWeekMon0(to_date(col("ts")))
          .cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    cells.withColumn("_t", sum(col("n_events")).over(tot).cast("long"))
      .select(col("dow"), col("hour"), col("n_events"), col("n_users"),
        graft.functions.ExactRound.ratio(col("n_events"),
          greatest(col("_t"), lit(1L)), 4).as("share"))
  }

  /** Global activity anomaly days: daily event totals z-scored
    * against EXACT integer moments (`n·Σc² − S²` — no float agg
    * order), flagged at |z| ≥ `zThreshold`. The spike/outage detector
    * over the whole stream; the moment table is one bounded
    * aggregate. */
  def anomalyDays(events: DataFrame,
                  zThreshold: Double = 2.0): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val m = daily.agg(count(lit(1)).as("n"),
      sum(col("c")).cast("long").as("s"),
      sum(col("c") * col("c")).cast("long").as("ssq"))
    val joined = daily.crossJoin(broadcast(m))
    val mu = col("s").cast("double") / col("n")
    val sd = when(col("n") > 1,
      sqrt((col("n") * col("ssq") - col("s") * col("s")).cast("double") /
        (col("n") * (col("n") - 1)).cast("double")))
    val z = (col("c") - mu) / nullif(sd, lit(0.0))
    joined.select(graft.queries.iso(col("d")).as("date"),
      col("c").as("n_events"), round(z, 4).as("z"),
      coalesce(abs(z) >= zThreshold, lit(false)).as("is_anomaly"))
  }

  /** Audience overlap between event types: for every type pair, the
    * Jaccard of their DISTINCT user sets — which behaviors share an
    * audience. One distinct (type, user) pass, a self-join keyed on
    * user (bounded by types² pairs out), exact bridge ratios. */
  def typeOverlap(events: DataFrame): DataFrame = {
    val tu = events.select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val a = tu.select(col("event_type").as("type_a"), col("user_id"))
    val b = tu.select(col("event_type").as("type_b"), col("user_id"))
    val inter = a.join(b, Seq("user_id"))
      .where(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        graft.functions.ExactRound.ratio(col("n_both"),
          col("n_a") + col("n_b") - col("n_both"), 4).as("jaccard"))
  }

  /** Fano dispersion index of daily activity per event type:
    * `F = var/mean` of the per-day event counts —
    * `(n·Σc² − S²)/((n−1)·S)` on EXACT integer moments, so the whole
    * statistic is one bridge ratio (F ≈ 1 Poisson, ≫ 1 bursty). Two
    * bounded hash aggregates. */
  def dispersionIndex(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).cast("long").as("s"),
        sum(col("c") * col("c")).cast("long").as("ssq"))
      .where(col("n_days") > 1 && col("s") > 0)
      .select(col("event_type"), col("n_days"),
        col("s").as("total_events"),
        graft.functions.ExactRound.ratio(col("s"),
          col("n_days"), 4).as("mean_daily"),
        graft.functions.ExactRound.signedRatio(
          col("n_days") * col("ssq") - col("s") * col("s"),
          (col("n_days") - 1) * col("s"), 4).as("fano"))
  }

  /** Volume-at-price profile per key: close prices bucketed into
    * `bins` equal-width bins over the KEY's own [min, max] close
    * range (same clamped binning arithmetic as [[Drift.psi]] —
    * engine-identical doubles), with per-bin bar counts, volume sums,
    * and the exact volume share. Two aggregates sharing the user key
    * + one broadcast of the bounded per-key extents. */
  def volumeProfile(bars: DataFrame, bins: Int = 10): DataFrame = {
    val ext = bars.groupBy(col("user_id"))
      .agg(min(col("close")).as("vmin"), max(col("close")).as("vmax"))
    val withExt = bars.join(broadcast(ext), Seq("user_id"))
    val rawBin = floor(((col("close") - col("vmin")) * bins)
      / (col("vmax") - col("vmin")))
    val bin = when(col("vmax") === col("vmin"), lit(0L))
      .otherwise(least(rawBin, lit(bins - 1)).cast("long"))
    val perBin = withExt.withColumn("bin", bin)
      .groupBy(col("user_id"), col("bin"))
      .agg(count(lit(1)).as("n_bars"),
        sum(col("volume")).cast("long").as("volume"))
    val tot = Window.partitionBy(col("user_id"))
    perBin
      .withColumn("_t", sum(col("volume")).over(tot).cast("long"))
      .select(col("user_id"), col("bin"), col("n_bars"), col("volume"),
        graft.functions.ExactRound.ratio(col("volume"),
          greatest(col("_t"), lit(1L)), 4).as("volume_share"))
  }

  /** Classic floor-trader pivot levels from the PREVIOUS bar:
    * `P = (H+L+C)/3`, `R1 = 2P−L`, `S1 = 2P−H`, `R2 = P+(H−L)`,
    * `S2 = P−(H−L)`. Identical double expressions on both engines
    * (binary doubles never land on exact decimal ties for these
    * price sums); first bar per key has no prior and is dropped.
    * One LAG window, map-side arithmetic. */
  def pivotPoints(bars: DataFrame): DataFrame = {
    val w = WindowFns.series(col("user_id"), col("date"))
    val ph = lag(col("high"), 1).over(w)
    val pl = lag(col("low"), 1).over(w)
    val pc = lag(col("close"), 1).over(w)
    bars.select(col("user_id"), col("date"),
        ph.as("ph"), pl.as("pl"), pc.as("pc"))
      .where(col("ph").isNotNull)
      .select(col("user_id"), col("date"),
        round((col("ph") + col("pl") + col("pc")) / 3, 4).as("pivot"),
        round(lit(2) * ((col("ph") + col("pl") + col("pc")) / 3)
          - col("pl"), 4).as("r1"),
        round(lit(2) * ((col("ph") + col("pl") + col("pc")) / 3)
          - col("ph"), 4).as("s1"),
        round((col("ph") + col("pl") + col("pc")) / 3
          + (col("ph") - col("pl")), 4).as("r2"),
        round((col("ph") + col("pl") + col("pc")) / 3
          - (col("ph") - col("pl")), 4).as("s2"))
  }

  /** Two-sided CUSUM control chart over the daily return stream —
    * the sequential change-point monitor run next to [[Drift psi]]'s
    * batch check: `s⁺_t = max(0, s⁺_{t-1} + (x_t − k))`,
    * `s⁻_t = min(0, s⁻_{t-1} + (x_t + k))`, alarm when either drifts
    * past ±h. Like [[emaMacd]] the recurrence depends on the previous
    * OUTPUT, so it is the sorted-scan pattern: one Exchange on the
    * key, one O(n) pass, O(1) state. The oracle replays the
    * bit-identical fold per row via `list_reduce` over a 0-prepended
    * stream (the prepend makes the fold's seed the mathematical s₀=0
    * rather than DuckDB's first-element seed); the Spark fold uses
    * the same `max(0, s + (x − k))` association. */
  def cusum(staged: DataFrame, k: Double = 0.5,
            h: Double = 4.0): DataFrame = {
    val spark = staged.sparkSession
    import spark.implicits._
    val src = staged
      .where(col("pct_change").isNotNull)
      .select(col("user_id").cast("long"), col("date").cast("date"),
        col("pct_change").cast("double"))
      .as[(Long, java.sql.Date, Double)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("date"))
    val scanned = src.mapPartitions { it =>
      var cur = Long.MinValue
      var sp = 0.0; var sn = 0.0
      it.map { case (u, dt, x) =>
        if (u != cur) { cur = u; sp = 0.0; sn = 0.0 }
        sp = math.max(0.0, sp + (x - k))
        sn = math.min(0.0, sn + (x + k))
        (u, dt, x, sp, sn, sp > h || sn < -h)
      }
    }.toDF("user_id", "date", "pct_change", "sp", "sn", "alarm")
    scanned.select(col("user_id"), col("date"), col("pct_change"),
      round(col("sp"), 4).as("cusum_pos"),
      round(col("sn"), 4).as("cusum_neg"), col("alarm"))
  }

  /** RiskMetrics EWMA volatility: `σ²_t = λ·σ²_{t-1} + (1−λ)·x²_t`
    * over daily pct-change, ZERO-seeded (σ²₀ = 0 — documented; the
    * stream's own early values dominate within ~1/(1−λ) rows). Same
    * sorted-scan shape as [[cusum]]; the oracle replays the fold via a
    * 0-prepended `list_reduce` with the identical `λa + (1−λ)·b·b`
    * association. Emits the daily σ and the √252-annualized σ. */
  def ewmaVolatility(staged: DataFrame,
                     lambda: Double = 0.94): DataFrame = {
    val spark = staged.sparkSession
    import spark.implicits._
    val lam = lambda; val oneMinus = 1.0 - lambda
    val src = staged
      .where(col("pct_change").isNotNull)
      .select(col("user_id").cast("long"), col("date").cast("date"),
        col("pct_change").cast("double"))
      .as[(Long, java.sql.Date, Double)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("date"))
    val scanned = src.mapPartitions { it =>
      var cur = Long.MinValue
      var v = 0.0
      it.map { case (u, dt, x) =>
        if (u != cur) { cur = u; v = 0.0 }
        v = lam * v + oneMinus * x * x
        (u, dt, x, v)
      }
    }.toDF("user_id", "date", "pct_change", "v")
    scanned.select(col("user_id"), col("date"), col("pct_change"),
      round(sqrt(col("v")), 4).as("ewma_vol"),
      round(sqrt(col("v") * 252.0), 4).as("ewma_vol_annual"))
  }

  /** Top event-type trigram paths: within each (user, day) the
    * event-id-ordered stream contributes every 3-step `a>b>c` path;
    * paths count corpus-wide and the top `k` emit with a
    * deterministic (count desc, path asc) order. Two leads on ONE
    * (user, day) window Exchange, one two-phase count, bounded top-k
    * (TakeOrderedAndProject — never a global sort). */
  def eventPaths(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("event_id"))
    val paths = events
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .where(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
    val counted = paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(k)
    // unpartitioned rank over the post-limit(k) frame — k rows
    // (scale-audit r13)
    counted.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("path").asc))
        .cast("long"))
      .select(col("rank"), col("path"), col("n"))
  }

  /** First/last-touch conversion attribution inside each (user, day):
    * for every `convType` event, the day's FIRST event type (by the
    * unique event id) gets first-touch credit and the immediately
    * preceding event's type gets last-touch credit (`(none)` when the
    * conversion opens the day). Two window passes on one (user, day)
    * Exchange + two bounded per-channel aggregates merged full-outer.
    * All-integer output. */
  def attribution(events: DataFrame,
                  convType: String = "purchase"): DataFrame = {
    val base = events.select(col("user_id"),
      to_date(col("ts")).as("d"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touched = base
      .withColumn("first_t", first(col("event_type")).over(cum))
      .withColumn("last_t",
        coalesce(lag(col("event_type"), 1).over(w), lit("(none)")))
      .where(col("event_type") === convType)
    val f = touched.groupBy(col("first_t").as("channel"))
      .agg(count(lit(1)).as("n_first_touch"))
    val l = touched.groupBy(col("last_t").as("channel"))
      .agg(count(lit(1)).as("n_last_touch"))
    f.join(l, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("n_first_touch"), lit(0L)).as("n_first_touch"),
        coalesce(col("n_last_touch"), lit(0L)).as("n_last_touch"))
  }

  /** Additive seasonal decomposition (STL-lite): trend = centered
    * 7-row moving average (full windows only), seasonal = the per-
    * (key, day-of-week) mean of the detrended series, residual = the
    * rest. EXACT beyond the trend: the 4dp detrended values lift into
    * DECIMAL(14,4), sum exactly, and the seasonal mean rounds through
    * the signed half-up bridge — group-sum ORDER never touches a
    * float. Trend's windowed avg folds in frame order (deterministic
    * on both engines — the q13/q14 rolling-mean precedent). One
    * series Exchange + one bounded (key, dow) aggregate joined back
    * broadcast. */
  def seasonalDecompose(bars: DataFrame): DataFrame = {
    val w = WindowFns.series(col("user_id"), col("date"))
    val f = w.rowsBetween(-3, 3)
    val trend = when(count(col("close")).over(f) === 7,
      round(avg(col("close")).over(f), 4))
    val det = bars.withColumn("trend", trend)
      .withColumn("dow",
        graft.functions.Indicators.dayOfWeekMon0(col("date"))
          .cast("long"))
      .withColumn("detr",
        round(col("close") - col("trend"), 4).cast("decimal(14,4)"))
    val seasonal = det.where(col("detr").isNotNull)
      .groupBy(col("user_id"), col("dow"))
      .agg(graft.functions.ExactRound.signedRatio(
        (sum(col("detr")) * 10000).cast("long"),
        count(lit(1)) * 10000, 4).as("seasonal"))
    det.join(broadcast(seasonal), Seq("user_id", "dow"), "left")
      .select(col("user_id"), col("date"), col("close"),
        col("trend"), col("dow"), col("seasonal"),
        round(col("detr").cast("double") - col("seasonal"), 4)
          .as("residual"))
  }

  /** Seasonal-strength summary per key over [[seasonalDecompose]]'s
    * output: `1 − Var(residual)/Var(detrended)` — how much of the
    * detrended variance the day-of-week component explains. Both
    * variances run as EXACT integer moments on the 4dp-scaled series
    * (`n·Σx² − S²`), so the whole statistic is one signed bridge
    * ratio. One bounded per-key aggregate over the decomposition. */
  def seasonalStrength(bars: DataFrame): DataFrame = {
    val dec = seasonalDecompose(bars)
      .where(col("residual").isNotNull)
    val lifted = dec.select(col("user_id"),
      fixed4(col("close") - col("trend")).as("d4"),
      fixed4(col("residual")).as("r4"))
    val g = lifted.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("d4")).cast("long").as("sd"),
        sum(col("d4").cast("decimal(38,0)") * col("d4")).as("sdd"),
        sum(col("r4")).cast("long").as("sr"),
        sum(col("r4").cast("decimal(38,0)") * col("r4")).as("srr"))
      .where(col("n") > 1)
    // moment numerators fit a long at any per-key length that fits a
    // task (≤ ~1e15 here) — keep the bridge on integer types
    val vd = (col("n") * col("sdd") -
      col("sd").cast("decimal(38,0)") * col("sd")).cast("long")
    val vr = (col("n") * col("srr") -
      col("sr").cast("decimal(38,0)") * col("sr")).cast("long")
    g.select(col("user_id"), col("n"),
      when(vd > 0, graft.functions.ExactRound.signedRatio(
        vd - vr, vd, 4)).as("seasonal_strength"))
  }

  /** Kaplan-Meier survival over user lifetimes (days from first to
    * last observed activity; the fixture has no censoring, so the last
    * active day IS the churn event): per lifetime t,
    * `S(t) = Π_{i≤t} (n_i − d_i)/n_i` with d the churn count and n the
    * at-risk count. The product runs as exp of a cumulative sum of
    * 6dp-DECIMAL log factors (the micro-nat bridge — engine-exact),
    * and S snaps to exactly 0 on the final row where n = d. The
    * per-user rollup is one hash aggregate; the survival table is
    * bounded by the observation span in days (the unpartitioned
    * window is over that bounded frame only). */
  def kaplanMeier(events: DataFrame): DataFrame = {
    val life = events.groupBy(col("user_id"))
      .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
        .cast("long").as("t"))
    val byT = life.groupBy(col("t")).agg(count(lit(1)).as("d"))
    val atRisk = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val cum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risked = byT
      .withColumn("n", sum(col("d")).over(atRisk).cast("long"))
    val ln6 = round(log((col("n") - col("d")).cast("double")
      / col("n")), 6).cast("decimal(10,6)")
    val withTerm = risked
      .withColumn("_lt", when(col("n") > col("d"), ln6))
    withTerm.select(col("t"), col("n").as("n_at_risk"),
      col("d").as("n_churned"),
      when(col("n") > col("d"),
        round(exp(sum(col("_lt")).over(cum).cast("double")), 4))
        .otherwise(lit(0.0)).as("survival"))
  }

  /** New-vs-returning actives per date: a user is "new" on their
    * first observed activity day, "returning" after. One distinct
    * (user, day) pass, a per-user min-date aggregate broadcast back
    * implicitly through the same key, one per-date rollup — all
    * integer counts plus the exact new-share ratio. */
  def newVsReturning(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val w = Window.partitionBy(col("user_id"))
    val flagged = ud.withColumn("first_d", min(col("d")).over(w))
    flagged.groupBy(col("d"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("d") === col("first_d"), 1L).otherwise(0L))
          .cast("long").as("n_new"))
      .select(graft.queries.iso(col("d")).as("date"), col("n_active"),
        col("n_new"), (col("n_active") - col("n_new")).as("n_returning"),
        graft.functions.ExactRound.ratio(col("n_new"),
          col("n_active"), 4).as("new_share"))
  }

  /** Rolling market beta per key: `β_t = cov(r, r_mkt)/var(r_mkt)`
    * over a trailing `period`-row window against the equal-weight
    * market return (the rolling twin of [[marketBeta]]'s static fit).
    * The |days|-row market frame broadcasts back; the frame
    * aggregates fold in window order on both engines (the rolling-
    * moment precedent); full windows only, zero-variance windows
    * null. */
  def rollingBeta(staged: DataFrame, period: Int = 30): DataFrame = {
    val r = staged.select(col("user_id"), col("date"),
        col("pct_change").as("ret"))
      .where(col("ret").isNotNull)
    val market = r.groupBy(col("date"))
      .agg(avg(col("ret")).as("mkt_ret"))
    val joined = r.join(broadcast(market), Seq("date"))
    val f = WindowFns.series(col("user_id"), col("date"))
      .rowsBetween(-(period - 1), 0)
    // stage each distinct window aggregate once (per-occurrence
    // extraction: the inline form planned var_pop ×2 via NULLIF)
    joined
      .withColumn("_cov", covar_pop(col("ret"), col("mkt_ret")).over(f))
      .withColumn("_var", var_pop(col("mkt_ret")).over(f))
      .withColumn("_n", count(col("ret")).over(f))
      .select(col("user_id"), col("date"), col("ret"),
        // the raw market mean carries agg-order ULP noise — emit rounded
        round(col("mkt_ret"), 4).as("mkt_ret"),
        when(col("_n") >= period,
          round(col("_cov") / nullif(col("_var"), lit(0.0)), 4))
          .as("rolling_beta"))
  }

  /** DAU/MAU stickiness per observed date: distinct daily actives over
    * distinct trailing-`windowDays` actives, via the same visible-from
    * sequence-explode as [[rollingActiveUsers]] (linear ×windowDays,
    * never a per-date rescan); the ratio is INTEGER/INTEGER through
    * the exact bridge. */
  def stickiness(events: DataFrame, windowDays: Int = 28): DataFrame = {
    val ud = events.select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val dates = ud.select(col("d").as("date")).distinct()
    val contrib = ud.select(col("user_id"),
      explode(sequence(col("d"), date_add(col("d"), windowDays - 1)))
        .as("date"))
    val mau = contrib.join(dates, Seq("date"), "left_semi")
      .groupBy(col("date"))
      .agg(countDistinct(col("user_id")).as("mau"))
    val dau = ud.groupBy(col("d").as("date"))
      .agg(count(lit(1)).as("dau"))
    dau.join(mau, Seq("date"))
      .select(graft.queries.iso(col("date")).as("date"),
        col("dau"), col("mau"),
        graft.functions.ExactRound.ratio(col("dau"), col("mau"), 4)
          .as("stickiness"))
  }

  /** Historical VaR / expected shortfall per key at the `tailPct`
    * percent tail: VaR is the order statistic at rank ⌈n·tail/100⌉ of
    * ascending 4dp returns (exact disc quantile, no interpolation),
    * ES the exact bridge mean of the returns at or below that rank.
    * One per-key sort window + one hash aggregate. */
  def varEs(staged: DataFrame, tailPct: Int = 5,
            minDays: Int = 20): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("x").asc, col("date").asc)
    val ranked = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), col("date"), x4.as("x"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
    val kr = call_function("div",
      col("n") * tailPct + (100 - 1), lit(100L))
    ranked.withColumn("kr", kr)
      .groupBy(col("user_id"))
      .agg(max(col("n")).cast("long").as("n_days"),
        max(col("kr")).cast("long").as("_k"),
        max(when(col("rn") === col("kr"), col("x"))).as("_v4"),
        sum(when(col("rn") <= col("kr"), col("x")).otherwise(0L))
          .cast("long").as("_t4"))
      .where(col("n_days") >= minDays)
      .select(col("user_id"), col("n_days"),
        (col("_v4").cast("double") / 10000).as("var_pct"),
        graft.functions.ExactRound.signedRatio(col("_t4"), col("_k"),
          0).divide(lit(10000.0)).as("es_pct"))
  }

  /** Return skewness / excess kurtosis per key: the four raw moments
    * accumulate as exact scaled integers (cubes/quartics in DECIMAL —
    * longs overflow at volume), then one deterministic double chain;
    * skew and kurtosis are scale-invariant so the 10⁴ lift cancels.
    * Returns winsorize at ±`clampPct`% first — near-zero closes
    * produce 10⁵%-scale returns whose QUARTIC would overflow even
    * 128-bit integers, and un-winsorized higher moments are
    * statistically meaningless on such spikes anyway. One conditional
    * hash aggregate. */
  def skewKurt(staged: DataFrame, minDays: Int = 10,
               clampPct: Int = 100): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val c = clampPct * 10000L
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"),
        least(greatest(x4, lit(-c)), lit(c)).as("x"))
    val xd = col("x").cast("decimal(38,0)")
    val g = src.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("s1"),
        sum(xd * col("x")).as("s2"),
        sum(xd * col("x") * col("x")).as("s3"),
        sum(xd * col("x") * col("x") * col("x")).as("s4"))
      .where(col("n") >= minDays)
    val nd = col("n").cast("double")
    val mu = col("s1").cast("double") / nd
    val m2 = col("s2").cast("double") / nd - mu * mu
    val m3 = col("s3").cast("double") / nd -
      lit(3.0) * mu * (col("s2").cast("double") / nd) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4").cast("double") / nd -
      lit(4.0) * mu * (col("s3").cast("double") / nd) +
      lit(6.0) * mu * mu * (col("s2").cast("double") / nd) -
      lit(3.0) * mu * mu * mu * mu
    g.select(col("user_id"), col("n").as("n_days"),
      round(m3 / sqrt(m2 * m2 * m2), 4).as("skewness"),
      round(m4 / (m2 * m2) - lit(3.0), 4).as("excess_kurtosis"))
  }

  /** Cumulative adoption curve: users by FIRST activity date, the
    * running total, and the exact penetration share of the final
    * user base. First-seen is one hash agg; the cumulative window
    * runs over the bounded date frame. */
  def adoptionCurve(events: DataFrame): DataFrame = {
    val first = events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("d"))
    val daily = first.groupBy(col("d"))
      .agg(count(lit(1)).cast("long").as("n_new"))
    val cum = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    daily
      .withColumn("cum_users", sum(col("n_new")).over(cum).cast("long"))
      .withColumn("_t", sum(col("n_new")).over(tot).cast("long"))
      .select(graft.queries.iso(col("d")).as("date"), col("n_new"),
        col("cum_users"),
        graft.functions.ExactRound.ratio(col("cum_users"), col("_t"),
          4).as("penetration"))
  }

  /** Market-basket association between event types at SESSION
    * granularity: for every type pair, support / confidence / lift
    * from exact session counts — "do purchases and signups co-occur
    * in the same visit more than chance". The distinct
    * (session, type) frame is linear; the pair join fans out only
    * within a session's bounded type set. */
  def sessionLift(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val us = unix_micros(col("ts"))
    val brk = when(lag(us, 1).over(w).isNull ||
      us - lag(us, 1).over(w) > gapMinutes * 60L * 1000000L, 1L)
      .otherwise(0L)
    val st = events.withColumn("_brk", brk)
      .withColumn("sid", sum(col("_brk"))
        .over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .select(col("user_id"), col("sid"), col("event_type")).distinct()
    val nSess = st.select(col("user_id"), col("sid")).distinct()
      .agg(count(lit(1)).cast("long").as("n_sessions"))
    val perType = st.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_t"))
    val a = st.select(col("user_id"), col("sid"),
      col("event_type").as("type_a"))
    val b = st.select(col("user_id"), col("sid"),
      col("event_type").as("type_b"))
    val pairs = a.join(b, Seq("user_id", "sid"))
      .where(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).cast("long").as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nSess))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        graft.functions.ExactRound.ratio(col("n_ab"),
          col("n_sessions"), 4).as("support"),
        graft.functions.ExactRound.ratio(col("n_ab"), col("n_a"), 4)
          .as("confidence"),
        graft.functions.ExactRound.ratio(
          col("n_ab") * col("n_sessions"),
          col("n_a") * col("n_b"), 4).as("lift"))
  }

  /** Calendar-anchored trailing mean: a RANGE frame over epoch days
    * (the last `days` CALENDAR days, however many bars landed there)
    * — the complement of the ROWS-frame rolling stack, which slides
    * over observations and ignores gaps. Close lifts to 4dp scaled
    * longs so the frame mean is one exact bridge. One window on the
    * shared series key. */
  def calendarMean(bars: DataFrame, days: Int = 7): DataFrame = {
    val epd = datediff(col("date"), lit("1970-01-01").cast("date"))
      .cast("long")
    val c4 = fixed4(col("close"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("_epd"))
      .rangeBetween(-(days - 1L), Window.currentRow)
    bars.withColumn("_epd", epd).withColumn("_c4", c4)
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_s4", sum(col("_c4")).over(w).cast("long"))
      .select(col("user_id"), col("date"), col("close"),
        col("_n").as("n_in_window"),
        graft.functions.ExactRound.ratio(col("_s4"), col("_n"), 0)
          .divide(lit(10000.0)).as("cal_mean"))
  }

  /** Exact discrete session-duration percentiles per key: duration in
    * whole seconds from the session micros bounds, percentile as the
    * order statistic at rank ⌈p·n⌉ — no interpolation, no sketch, so
    * the oracle replays it with a row_number. One window + one hash
    * agg on the session frame (already bounded per key). */
  def sessionStats(sessions: DataFrame): DataFrame = {
    val d = call_function("div",
      col("end_us") - col("start_us"), lit(1000000L))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("_d").asc, col("session_id").asc)
    val ranked = sessions.withColumn("_d", d)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
    def atRank(r: Column) = max(when(col("_rn") === r, col("_d")))
    ranked.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("_d")).cast("long").as("_sd"),
        atRank(call_function("div", col("_n") + 1, lit(2L)))
          .as("p50_secs"),
        atRank(call_function("div", col("_n") * 9 + 9, lit(10L)))
          .as("p90_secs"),
        max(col("_d")).as("max_secs"))
      .select(col("user_id"), col("n_sessions"),
        graft.functions.ExactRound.ratio(col("_sd"),
          col("n_sessions"), 4).as("mean_secs"),
        col("p50_secs"), col("p90_secs"), col("max_secs"))
  }

  /** Accumulation/Distribution line per key: the close-location value
    * `CLV = ((C−L)−(H−C))/(H−L)` rounds through the exact signed
    * bridge to a 6dp scaled long, multiplies by the integer volume,
    * and cumulates — the running total is EXACT long arithmetic, so
    * the classic money-flow cumsum is engine-portable (a doji bar
    * H=L contributes 0 by convention). One window pass. */
  def adLine(bars: DataFrame): DataFrame = {
    val num4 = fixed4(col("close")) * 2 - fixed4(col("high")) -
      fixed4(col("low"))
    val den4 = fixed4(col("high")) - fixed4(col("low"))
    val mag = call_function("div",
      abs(num4) * 2000000L + den4, den4 * 2)
    val clv6 = when(den4 === 0, lit(0L))
      .otherwise(when(num4 < 0, -mag).otherwise(mag))
    val w = WindowFns.series(col("user_id"), col("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars.withColumn("mf6", clv6 * col("volume").cast("long"))
      .withColumn("ad6", sum(col("mf6")).over(w).cast("long"))
      .select(col("user_id"), col("date"),
        (col("mf6").cast("double") / 1000000).as("money_flow"),
        (col("ad6").cast("double") / 1000000).as("ad_line"))
  }

  /** Chande momentum oscillator per key:
    * `CMO = 100·(Σgain − Σloss)/(Σgain + Σloss)` over a trailing
    * `period` frame, with gains/losses as 4dp scaled longs — the
    * whole oscillator is one exact signed bridge per row. */
  def chandeMomentum(staged: DataFrame, period: Int = 14): DataFrame = {
    val d4 = fixed4(col("price_change"))
    val w = WindowFns.series(col("user_id"), col("date"))
    val f = w.rowsBetween(-(period - 1L), Window.currentRow)
    val src = staged
      .withColumn("g", when(d4 > 0, d4).otherwise(lit(0L)))
      .withColumn("l", when(d4 < 0, -d4).otherwise(lit(0L)))
      .withColumn("_nd", count(col("price_change")).over(f))
      .withColumn("sg", sum(col("g")).over(f).cast("long"))
      .withColumn("sl", sum(col("l")).over(f).cast("long"))
    src.where(col("_nd") >= period && (col("sg") + col("sl")) > 0)
      .select(col("user_id"), col("date"),
        graft.functions.ExactRound.signedRatio(
          (col("sg") - col("sl")) * 100,
          col("sg") + col("sl"), 4).as("cmo"))
  }

  /** Overnight-gap statistics per key: `gap = open − prev_close` in
    * exact 4dp scaled longs — up/down day counts, the signed-bridge
    * mean gap, and the extreme gaps. One window + one hash agg. */
  def gapStats(bars: DataFrame, minDays: Int = 5): DataFrame = {
    val w = WindowFns.series(col("user_id"), col("date"))
    val gap4 = fixed4(col("open")) - lag(fixed4(col("close")), 1).over(w)
    bars.withColumn("gap4", gap4)
      .where(col("gap4").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(when(col("gap4") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_gap_up"),
        sum(when(col("gap4") < 0, 1L).otherwise(0L)).cast("long")
          .as("n_gap_down"),
        sum(col("gap4")).cast("long").as("s4"),
        max(col("gap4")).as("mx4"), min(col("gap4")).as("mn4"))
      .where(col("n_days") >= minDays)
      .select(col("user_id"), col("n_days"), col("n_gap_up"),
        col("n_gap_down"),
        graft.functions.ExactRound.signedRatio(col("s4"),
          col("n_days"), 0).divide(lit(10000.0)).as("mean_gap"),
        (col("mx4").cast("double") / 10000).as("max_gap"),
        (col("mn4").cast("double") / 10000).as("min_gap"))
  }

  /** Turn-of-month effect per key: mean daily return inside the
    * turn-of-month window (last `edge` and first `edge` trading days
    * of each month) vs the middle days — all moments on 4dp scaled
    * longs with signed-bridge means. Two row_number passes on the
    * (key × month) partition + one conditional aggregate. */
  def tomEffect(staged: DataFrame, edge: Int = 3,
                minEach: Int = 2): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val month = date_trunc("month", col("date"))
    val wa = Window.partitionBy(col("user_id"), month)
      .orderBy(col("date").asc)
    val wd = Window.partitionBy(col("user_id"), month)
      .orderBy(col("date").desc)
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), col("date"), x4.as("x"))
      .withColumn("tom",
        (row_number().over(wa) <= edge ||
          row_number().over(wd) <= edge).cast("long"))
    val g = src.groupBy(col("user_id"))
      .agg(sum(when(col("tom") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_tom"),
        sum(when(col("tom") === 1, col("x")).otherwise(0L))
          .cast("long").as("s_tom"),
        sum(when(col("tom") === 0, 1L).otherwise(0L)).cast("long")
          .as("n_mid"),
        sum(when(col("tom") === 0, col("x")).otherwise(0L))
          .cast("long").as("s_mid"))
      .where(col("n_tom") >= minEach && col("n_mid") >= minEach)
    g.select(col("user_id"), col("n_tom"), col("n_mid"),
      mean4("s_tom", "n_tom").as("mean_tom"),
      mean4("s_mid", "n_mid").as("mean_mid"))
  }

  /** Wald-Wolfowitz runs test on the SIGN of daily returns per key —
    * "are up/down days serially random": run count from a lag over the
    * zero-filtered sign series, `E[R] = 1 + 2n₊n₋/n` through the exact
    * bridge, and the z-statistic from the exact integer variance
    * moments `2n₊n₋(2n₊n₋−n)/(n²(n−1))` (sqrt is the only double).
    * One window + one hash aggregate on the shared series key. */
  def runsTest(staged: DataFrame, minEach: Int = 2): DataFrame = {
    val x4 = fixed4(col("pct_change"))
    val signs = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), col("date"), x4.as("x"))
      .where(col("x") =!= 0)
      .withColumn("s", when(col("x") > 0, 1L).otherwise(-1L))
    val w = WindowFns.series(col("user_id"), col("date"))
    val flip = when(lag(col("s"), 1).over(w).isNull ||
      lag(col("s"), 1).over(w) =!= col("s"), 1L).otherwise(0L)
    val g = signs.withColumn("f", flip)
      .groupBy(col("user_id"))
      .agg(sum(when(col("s") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_pos"),
        sum(when(col("s") === -1, 1L).otherwise(0L)).cast("long")
          .as("n_neg"),
        sum(col("f")).cast("long").as("runs"))
      .where(col("n_pos") >= minEach && col("n_neg") >= minEach)
    val n = col("n_pos") + col("n_neg")
    val two = lit(2L) * col("n_pos") * col("n_neg")
    val varNum = (two * (two - n)).cast("double")
    val varDen = (n * n * (n - 1)).cast("double")
    val z = (col("runs").cast("double") -
      (lit(1.0) + two.cast("double") / n.cast("double"))) /
      sqrt(varNum / varDen)
    g.select(col("user_id"), col("n_pos"), col("n_neg"), col("runs"),
      graft.functions.ExactRound.ratio(n + two, n, 4)
        .as("expected_runs"),
      round(z, 4).as("z_stat"))
  }

  /** Amihud illiquidity per key: mean over days of |return|/volume —
    * "how much does a unit of flow move the price". Each day's ratio
    * rounds through the exact bridge to a 10dp scaled long, the mean
    * through a second bridge to 8dp, so the statistic is
    * engine-portable integer arithmetic end to end. One map + one
    * hash aggregate. */
  def amihud(staged: DataFrame, minDays: Int = 5): DataFrame = {
    val y4 = fixed4(abs(col("pct_change")))
    val src = staged.where(col("pct_change").isNotNull)
      .select(col("user_id"), y4.as("y"),
        col("volume").cast("long").as("v"))
    // round(y/(10⁴·v)·10¹⁰) = round(y·10⁶/v) — exact bridge per row
    val r10 = call_function("div",
      col("y") * 2000000L + col("v"), col("v") * 2)
    src.withColumn("r10", r10)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("r10")).cast("long").as("s10"))
      .where(col("n_days") >= minDays)
      .select(col("user_id"), col("n_days"),
        graft.functions.ExactRound.ratio(col("s10"),
          col("n_days") * 100L, 0).divide(lit(1e8)).as("illiq"))
  }
}
