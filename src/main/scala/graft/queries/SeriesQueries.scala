package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Indicators, WindowFns}
import graft.jobs.DailyEtlJob
import graft.operators.{AsOfJoin, Enrichment, EventSeries, Writes}

/** The reference's keyed-time-series pipeline (SURVEY §2.5 windows, §2.1
  * write semantics, §2.8 scalar functions) bound to the `events` fixture,
  * each query with a DuckDB oracle twin built over a shared daily-bars CTE.
  */
object SeriesQueries {
  type Q = (SparkSession, String) => DataFrame

  private def bars(s: SparkSession, d: String): DataFrame =
    EventSeries.dailyBars(Tables.events(s, d))

  private def staged(s: SparkSession, d: String): DataFrame =
    EventSeries.stgDailyPrices(bars(s, d))

  private def seriesW = WindowFns.series(col("user_id"), col("date"))

  /** Shared oracle prefix: daily OHLCV bars from events (open/close picked
    * by min/max event_id — ids are time-ordered in the fixture). */
  private[queries] val BARS: String =
    """WITH raw AS (
         SELECT user_id, CAST(ts AS DATE) AS date, value, event_id
         FROM events),
       bars AS (
         SELECT user_id, date,
                round(min(CASE WHEN rn_a = 1 THEN value END),4) AS open,
                round(max(value),4) AS high,
                round(min(value),4) AS low,
                round(min(CASE WHEN rn_d = 1 THEN value END),4) AS close,
                count(*) AS volume
         FROM (SELECT *,
                 row_number() OVER (PARTITION BY user_id, date
                                    ORDER BY event_id) AS rn_a,
                 row_number() OVER (PARTITION BY user_id, date
                                    ORDER BY event_id DESC) AS rn_d
               FROM raw) t
         GROUP BY 1, 2)"""

  private[queries] val STAGED: String = BARS +
    """, staged AS (
         SELECT user_id, date, close,
                lag(close) OVER w AS prev_close,
                round(close - lag(close) OVER w, 4) AS price_change,
                round((close - lag(close) OVER w)
                      / nullif(lag(close) OVER w, 0) * 100, 4) AS pct_change
         FROM bars
         WINDOW w AS (PARTITION BY user_id ORDER BY date))"""

  val queries: Map[String, Q] = Map(
    // the OHLCV aggregation itself (arg-min/arg-max by id, one hash agg)
    "q10_daily_bars" -> ((s, d) =>
      bars(s, d).withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // W1: LAG → prev/price_change/pct_change (stg_stock_prices model)
    "q11_staged_prices" -> ((s, d) =>
      staged(s, d).select(col("user_id"), col("date"), col("close"),
          col("prev_close"), col("price_change"), col("pct_change"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // W3: LEAD → next-day close and forward return (the ML target shape)
    "q12_lead_target" -> ((s, d) => {
      val next = lead(col("close"), 1).over(seriesW)
      bars(s, d).select(col("user_id"), col("date"), col("close"),
          next.as("next_close"),
          round((next - col("close")) / nullif(col("close"), lit(0)) * 100, 4)
            .as("next_return"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // W6: rolling mean/std, window 5, min_periods=1
    "q13_rolling" -> ((s, d) =>
      bars(s, d).select(col("user_id"), col("date"), col("close"),
          round(WindowFns.rollingMean(col("close"), 5, 1, seriesW), 4)
            .as("ma5"),
          round(WindowFns.rollingStd(col("close"), 5, 1, seriesW), 4)
            .as("sd5"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // W7: rolling mean with pandas default min_periods=window (warm-up null)
    "q14_rolling_minp" -> ((s, d) =>
      bars(s, d).select(col("user_id"), col("date"), col("close"),
          round(WindowFns.rollingMean(col("close"), 3, 3, seriesW), 4)
            .as("ma3"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // W8: RSI(14) composite — staged form computes each distinct window
    // aggregate once (6 sliding aggs + 4 lags → 2 sliding aggs + a
    // row_number gate + 1 lag; see Indicators.rsiStaged scaladoc)
    "q15_rsi" -> ((s, d) =>
      Indicators.rsiStaged(bars(s, d), col("close"), seriesW, 14, "rsi_14")
        .select(col("user_id"), col("date"), col("rsi_14"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // W9: ATR(14) — true range + warm-up rolling mean
    "q16_atr" -> ((s, d) =>
      bars(s, d).select(col("user_id"), col("date"),
          Indicators.atr(col("high"), col("low"), col("close"), seriesW, 14)
            .as("atr_14"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // W10: Bollinger width(20, 2σ) — staged form shares one count gate
    // between the sma and std aggregates (4 → 3 window expressions)
    "q17_bollinger" -> ((s, d) =>
      Indicators.bollingerStaged(bars(s, d), col("close"), seriesW,
          20, 2.0, "bb_width_20")
        .select(col("user_id"), col("date"), col("bb_width_20"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // J1+F-CASE flagship: fact model with enrichment join + move category
    "q18_fact_sentiment" -> ((s, d) =>
      EventSeries.fctPricesWithSentiment(Tables.events(s, d))
        .select(col("user_id"), col("date"), col("close"), col("prev_close"),
          col("pct_change"), col("sentiment"), col("n_events"),
          col("move_category"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // A5: ordered string aggregation (array_sort∘collect_list∘array_join)
    "q20_string_agg" -> ((s, d) => {
      val mark = when(col("pct_change") > 0, "U")
        .when(col("pct_change") < 0, "D").otherwise("_")
      staged(s, d)
        .select(col("user_id"), col("date"), mark.as("mark"))
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("date").as("d"),
              col("mark").as("m")))),
            x => x.getField("m")), "").as("moves"))
        .orderBy(col("user_id"))
    }),

    // S3: INSERT .. ON CONFLICT DO NOTHING as anti-join + union
    "q22_insert_ignore" -> ((s, d) => {
      val b = bars(s, d)
      val existing = b.filter(col("date") <= lit("2024-01-15").cast("date"))
      val incoming = b.filter(col("date").between(
          lit("2024-01-10").cast("date"), lit("2024-01-20").cast("date")))
        .withColumn("volume", col("volume") + 1000L)
      Writes.insertIgnore(existing, incoming, Seq("user_id", "date"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // S3 at warehouse scale: the same insert-ignore through the
    // Bloom-pruned zero-shuffle-of-existing plan — same oracle as q22
    // proves the pruned path exact cross-engine
    "q81_insert_ignore_bloom" -> ((s, d) => {
      val b = bars(s, d)
      val existing = b.filter(col("date") <= lit("2024-01-15").cast("date"))
      val incoming = b.filter(col("date").between(
          lit("2024-01-10").cast("date"), lit("2024-01-20").cast("date")))
        .withColumn("volume", col("volume") + 1000L)
      Writes.insertIgnoreBloom(existing, incoming, Seq("user_id", "date"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // S4: upsert (incoming wins) as anti-join + union
    "q23_upsert" -> ((s, d) => {
      val b = bars(s, d)
      val existing = b.filter(col("date") <= lit("2024-01-15").cast("date"))
      val incoming = b.filter(col("date").between(
          lit("2024-01-10").cast("date"), lit("2024-01-20").cast("date")))
        .withColumn("volume", col("volume") + 1000L)
      Writes.upsert(existing, incoming, Seq("user_id", "date"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // CDC apply: latest change per key wins — D deletes, U upserts;
    // untouched keys pass through
    "q91_cdc_apply" -> ((s, d) => {
      val b = bars(s, d)
      val existing = graft.functions.WindowFns.latestPerKey(
          b.filter(col("date") <= lit("2024-01-15").cast("date")),
          Seq("user_id"), col("date"))
        .select(col("user_id"), col("date"), col("close"))
      val changes = b.filter(col("date") > lit("2024-01-15").cast("date"))
        .select(col("user_id"), col("date"), col("close"),
          col("date").as("seq"),
          when(col("user_id") % 7 === 0, "D").otherwise("U").as("op"))
      Writes.applyCdc(existing, changes, Seq("user_id"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"))
    }),

    // F-CUT + W12: intraday volatility and pd.cut-style class bins
    "q24_cut_bins" -> ((s, d) => {
      val vol = Indicators.volatility(col("high"), col("low"), col("close"))
      bars(s, d).select(col("user_id"), col("date"), vol.as("volatility"),
          Indicators.classifyVolatility(vol).as("vol_class"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // S8+J4+J1: the full daily-ETL fact — ingest, anti-join enrichment
    // delta through the provider, staging windows, left join, categorize
    "q49_enriched_fact" -> ((s, d) => {
      val (_, fact) = DailyEtlJob.backfill(Tables.events(s, d),
        Enrichment.DeterministicProvider)
      fact.select(col("user_id"), col("date"), col("close"),
          col("pct_change"), col("sentiment"), col("topic"),
          col("move_category"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // As-of join: attach the most recent significant-move signal on or
    // before each bar's date (union + running last_value — no range-join
    // explosion; oracle is DuckDB's native ASOF JOIN)
    "q59_asof_join" -> ((s, d) => {
      val b = bars(s, d).select(col("user_id"), col("date"), col("close"))
      val sparse = staged(s, d)
        .filter(abs(col("pct_change")) > 2)
        .select(col("user_id"), col("date"),
          when(col("pct_change") > 0, "positive").otherwise("negative")
            .as("last_signal"))
      AsOfJoin.joinAsOf(b, sparse, Seq("user_id"), "date")
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // as-of with tolerance: matches staler than 7 days are nulled
    // (merge_asof tolerance semantics), the left row survives
    "q84_asof_tolerance" -> ((s, d) => {
      val b = bars(s, d).select(col("user_id"), col("date"), col("close"))
      val sparse = staged(s, d)
        .filter(abs(col("pct_change")) > 2)
        .select(col("user_id"), col("date"),
          when(col("pct_change") > 0, "positive").otherwise("negative")
            .as("last_signal"))
      AsOfJoin.joinAsOf(b, sparse, Seq("user_id"), "date",
          tolerance = Some(expr("INTERVAL 7 DAYS")))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // forward as-of: each bar attaches the NEXT signal at/after it
    "q85_asof_forward" -> ((s, d) => {
      val b = bars(s, d).select(col("user_id"), col("date"), col("close"))
      val sparse = staged(s, d)
        .filter(abs(col("pct_change")) > 2)
        .select(col("user_id"), col("date"),
          when(col("pct_change") > 0, "positive").otherwise("negative")
            .as("next_signal"))
      AsOfJoin.joinAsOf(b, sparse, Seq("user_id"), "date",
          direction = "forward")
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // nearest as-of: closer of the two sides, ties to backward
    "q89_asof_nearest" -> ((s, d) => {
      val b = bars(s, d).select(col("user_id"), col("date"), col("close"))
      val sparse = staged(s, d)
        .filter(abs(col("pct_change")) > 2)
        .select(col("user_id"), col("date"),
          when(col("pct_change") > 0, "positive").otherwise("negative")
            .as("near_signal"))
      AsOfJoin.joinAsOf(b, sparse, Seq("user_id"), "date",
          direction = "nearest")
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // SCD2 dimension history from the event change stream: upserts
    // become validity intervals, 'error' events play deletes (they
    // close the predecessor and emit nothing). Interval bounds as
    // epoch micros — engine-portable BIGINTs.
    "q132_scd2_history" -> ((s, d) => {
      val ch = Tables.events(s, d).select(col("user_id"),
        col("event_id"), col("ts"), round(col("value"), 4).as("value"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"))
      graft.operators.Writes.scd2History(ch, Seq("user_id"), "ts",
          "event_id")
        .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
    }),

    // event-type transition matrix (first-order Markov counts): lag
    // over the per-user (ts, event_id) order, corpus-wide pair counts
    "q139_event_transitions" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // inter-event gap profile per user: median/p75 of the micro-second
    // gaps (exact interpolation over BIGINTs — halves/quarters are
    // exact binary, so the UNROUNDED values are hash-safe) + max
    "q140_event_gaps" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      Tables.events(s, d)
        .withColumn("_gap",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("_gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          expr("percentile(_gap, 0.5)").as("gap_p50_us"),
          expr("percentile(_gap, 0.75)").as("gap_p75_us"),
          max(col("_gap")).as("gap_max_us"))
        .orderBy(col("user_id"))
    }),

    // weekly OHLCV resample — pandas resample('W') over the event
    // series, deterministic open/close via (ts, event_id) tiebreak
    "q138_weekly_bars" -> ((s, d) =>
      EventSeries.weeklyBars(Tables.events(s, d))
        .orderBy(col("user_id"), col("week"))),

    // recursive EMA(12/26) + MACD + signal(9) + histogram — the sorted
    // mapPartitions scan; oracle folds the same doubles per row
    "q142_ema_macd" -> ((s, d) =>
      EventSeries.emaMacd(bars(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // running peak / drawdown-from-peak / running max drawdown
    "q143_drawdown" -> ((s, d) =>
      EventSeries.drawdown(bars(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // pairwise Pearson correlation of daily returns (upper triangle)
    "q144_pair_corr" -> ((s, d) =>
      EventSeries.pairCorrelation(staged(s, d))
        .orderBy(col("user_a"), col("user_b"))),

    // per-key beta/alpha vs the equal-weight market return
    "q145_beta" -> ((s, d) =>
      EventSeries.marketBeta(staged(s, d))
        .orderBy(col("user_id"))),

    // stochastic oscillator %K(14) + %D(3) over the daily bars
    "q147_stochastic" -> ((s, d) =>
      // staged %K: one count/min/max each instead of the Column
      // form's per-occurrence duplicates (r13 window-expr dedup)
      Indicators.stochasticKStaged(bars(s, d), col("high"), col("low"),
          col("close"), seriesW, 14, "pct_k")
        .select(col("user_id"), col("date"), col("close"), col("pct_k"))
        .withColumn("pct_d",
          Indicators.stochasticD(col("pct_k"), seriesW, 3))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // on-balance volume: cumulative signed volume, exact integers
    "q148_obv" -> ((s, d) =>
      bars(s, d).select(col("user_id"), col("date"), col("close"),
          col("volume"),
          Indicators.obv(col("close"), col("volume"), seriesW)
            .as("obv"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // Aroon up/down(25): bars-since-extreme as lexicographic struct
    // max (ties → most recent), exact integer ratio
    "q187_aroon" -> ((s, d) =>
      EventSeries.aroon(bars(s, d), 25)
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // longest up/down streak per key — gaps-and-islands on change sign
    "q188_streaks" -> ((s, d) =>
      EventSeries.streaks(staged(s, d)).orderBy(col("user_id"))),

    // candlestick pattern census: doji/hammer/engulfing counts
    "q189_candles" -> ((s, d) =>
      EventSeries.candlePatterns(bars(s, d)).orderBy(col("user_id"))),

    // floor-trader pivot levels from the previous bar
    "q190_pivot_points" -> ((s, d) =>
      EventSeries.pivotPoints(bars(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // DAU/MAU stickiness per observed date (28-day trailing window)
    "q191_stickiness" -> ((s, d) =>
      EventSeries.stickiness(Tables.events(s, d), 28)
        .orderBy(col("date"))),

    // weekend vs weekday mean return per key, exact-moment Welch t
    "q234_weekend_effect" -> ((s, d) =>
      EventSeries.weekendEffect(staged(s, d))
        .orderBy(col("user_id"))),

    // chi² independence of event type × weekday — exact bridge cells
    "q235_chi2_independence" -> ((s, d) =>
      EventSeries.chi2Independence(Tables.events(s, d))
        .orderBy(col("event_type"), col("dow"))),

    // days-to-first-conversion histogram (−1 = never converted)
    "q230_time_to_convert" -> ((s, d) =>
      EventSeries.timeToConvert(Tables.events(s, d))
        .orderBy(col("days"))),

    // Markov next-event predictor trained on the first half, honest
    // second-half eval vs the global-mode baseline
    "q231_markov_eval" -> ((s, d) =>
      EventSeries.markovEval(Tables.events(s, d))),

    // seasonal strength per key — exact integer variance moments over
    // the 4dp decomposition series
    "q228_seasonal_strength" -> ((s, d) =>
      EventSeries.seasonalStrength(bars(s, d))
        .orderBy(col("user_id"))),

    // dow × hour activity heatmap with exact shares
    "q224_hourly_heatmap" -> ((s, d) =>
      EventSeries.hourlyHeatmap(Tables.events(s, d))
        .orderBy(col("dow"), col("hour"))),

    // global activity anomaly days via exact integer moments
    "q225_anomaly_days" -> ((s, d) =>
      EventSeries.anomalyDays(Tables.events(s, d))
        .orderBy(col("date"))),

    // audience Jaccard between event types
    "q226_type_overlap" -> ((s, d) =>
      EventSeries.typeOverlap(Tables.events(s, d))
        .orderBy(col("type_a"), col("type_b"))),

    // Roll's implied spread from the serial covariance of changes
    "q221_roll_spread" -> ((s, d) =>
      EventSeries.rollSpread(staged(s, d)).orderBy(col("user_id"))),

    // price-impact OLS of |Δp| on volume per key
    "q222_price_impact" -> ((s, d) =>
      EventSeries.priceImpact(staged(s, d)).orderBy(col("user_id"))),

    // Fano dispersion of daily activity per event type — exact
    // integer moments, one bridge ratio
    "q223_dispersion" -> ((s, d) =>
      EventSeries.dispersionIndex(Tables.events(s, d))
        .orderBy(col("event_type"))),

    // Wald-Wolfowitz runs test on return signs — exact moments
    "q239_runs_test" -> ((s, d) =>
      EventSeries.runsTest(staged(s, d)).orderBy(col("user_id"))),

    // lead-lag correlation structure vs the equal-weight market
    "q317_lead_lag" -> ((s, d) =>
      EventSeries.leadLag(staged(s, d)).orderBy(col("user_id"))),

    // purchase-share trend slope over the observation window
    "q332_mix_trend" -> ((s, d) =>
      EventSeries.mixTrend(Tables.events(s, d), "purchase")),

    // weekly top-10 momentum portfolio turnover
    "q329_turnover" -> ((s, d) =>
      EventSeries.portfolioTurnover(staged(s, d), 10)
        .orderBy(col("week"))),

    // information ratio vs the equal-weight market — exact excess
    // moments
    "q330_information_ratio" -> ((s, d) =>
      EventSeries.informationRatio(staged(s, d))
        .orderBy(col("user_id"))),

    // empirical CDF at the risk-limit points, exact shares
    "q327_tail_probs" -> ((s, d) =>
      EventSeries.tailProbs(staged(s, d)).orderBy(col("user_id"))),

    // 5% stop-loss rule vs buy-and-hold, exact first-trigger
    "q328_stop_loss" -> ((s, d) =>
      EventSeries.stopLossBacktest(bars(s, d), 5)
        .orderBy(col("user_id"))),

    // inter-arrival CV — Poisson vs bursty vs bot-regular screen
    "q326_interarrival_cv" -> ((s, d) =>
      EventSeries.interArrivalCv(Tables.events(s, d))
        .orderBy(col("user_id"))),

    // busiest-minute burst ratio per user
    "q318_burst_minutes" -> ((s, d) =>
      EventSeries.burstMinutes(Tables.events(s, d))
        .orderBy(col("user_id"))),

    // windowFunnel: click→view→purchase within 6h, level counts
    "q314_window_funnel" -> ((s, d) =>
      EventSeries.windowFunnel(Tables.events(s, d))
        .orderBy(col("funnel_level"))),

    // equal-weight market index level (order-free log chain)
    "q308_market_index" -> ((s, d) =>
      EventSeries.marketIndex(staged(s, d)).orderBy(col("date"))),

    // sweep-line peak session concurrency per day
    "q309_peak_concurrency" -> ((s, d) =>
      EventSeries.peakConcurrency(
          EventSeries.sessions(Tables.events(s, d), 30))
        .orderBy(col("date"))),

    // global (close × volume) density grid, exact cell shares
    "q306_hist2d" -> ((s, d) =>
      EventSeries.hist2d(bars(s, d), 8)
        .orderBy(col("bin_x"), col("bin_y"))),

    // churn-rate sensitivity under 7/14/28-day inactivity cutoffs
    "q297_churn_sensitivity" -> ((s, d) =>
      EventSeries.churnSensitivity(Tables.events(s, d))
        .orderBy(col("threshold_days"))),

    // daily top-10 whale share of events — exact dominance audit
    "q298_whale_share" -> ((s, d) =>
      EventSeries.whaleShare(Tables.events(s, d), 10)
        .orderBy(col("date"))),

    // per-user activity-calendar gap audit (missing days, longest
    // silent stretch, exact coverage)
    "q294_calendar_gaps" -> ((s, d) =>
      EventSeries.calendarGaps(Tables.events(s, d))
        .orderBy(col("user_id"))),

    // activity-decile migration matrix between window halves
    "q295_decile_migration" -> ((s, d) =>
      EventSeries.decileMigration(Tables.events(s, d), 10)
        .orderBy(col("decile_first"), col("decile_second"))),

    // naive vs seasonal-naive forecast MAE + exact MASE
    "q291_forecast_error" -> ((s, d) =>
      EventSeries.forecastErrors(staged(s, d), 7)
        .orderBy(col("user_id"))),

    // up/down capture ratios vs the equal-weight market
    "q289_capture_ratio" -> ((s, d) =>
      EventSeries.captureRatios(staged(s, d))
        .orderBy(col("user_id"))),

    // stale-feed audit: zero-change days, longest flatline run
    "q286_price_staleness" -> ((s, d) =>
      EventSeries.priceStaleness(staged(s, d))
        .orderBy(col("user_id"))),

    // drawdown DURATION: running peak + days underwater
    "q278_time_underwater" -> ((s, d) =>
      EventSeries.timeUnderwater(bars(s, d))
        .orderBy(col("user_id"), col("date"))),

    // round-number clustering bias of closes (microstructure audit)
    "q279_round_bias" -> ((s, d) =>
      EventSeries.roundNumberBias(bars(s, d))
        .orderBy(col("user_id"))),

    // Kendall tau-b volume vs |return| — exact tie-corrected counts
    "q272_kendall_tau" -> ((s, d) =>
      EventSeries.kendallTau(staged(s, d)).orderBy(col("user_id"))),

    // one-way ANOVA F of returns by weekday per key
    "q273_dow_anova" -> ((s, d) =>
      EventSeries.dowAnova(staged(s, d)).orderBy(col("user_id"))),

    // volatility clustering: adjacent extreme days vs independence
    "q274_extreme_clustering" -> ((s, d) =>
      EventSeries.extremeClustering(staged(s, d), 5.0)
        .orderBy(col("user_id"))),

    // cross-sectional daily return ranks with exact pct-rank/cume
    "q271_cross_rank" -> ((s, d) =>
      EventSeries.crossSectionalRank(staged(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("date"), col("rnk"))),

    // Ljung-Box portmanteau Q over the first 5 autocorrelations
    "q266_ljung_box" -> ((s, d) =>
      EventSeries.ljungBox(staged(s, d), 5)
        .orderBy(col("user_id"))),

    // AR(1) mean-reversion beta + implied half-life, exact moments
    "q267_mean_reversion" -> ((s, d) =>
      EventSeries.meanReversion(staged(s, d))
        .orderBy(col("user_id"))),

    // Shannon entropy / evenness of each user's event-type mix
    "q268_activity_entropy" -> ((s, d) =>
      EventSeries.activityEntropy(Tables.events(s, d))
        .orderBy(col("user_id"))),

    // cumulative adoption curve with exact penetration shares
    "q262_adoption_curve" -> ((s, d) =>
      EventSeries.adoptionCurve(Tables.events(s, d))
        .orderBy(col("date"))),

    // session-level market-basket association between event types
    "q263_session_lift" -> ((s, d) =>
      EventSeries.sessionLift(Tables.events(s, d), 30)
        .orderBy(col("type_a"), col("type_b"))),

    // historical VaR / expected shortfall at the 5% tail — exact
    // order statistic + bridge tail mean
    "q264_var_es" -> ((s, d) =>
      EventSeries.varEs(staged(s, d)).orderBy(col("user_id"))),

    // return skewness / excess kurtosis from exact scaled moments
    "q265_skew_kurtosis" -> ((s, d) =>
      EventSeries.skewKurt(staged(s, d)).orderBy(col("user_id"))),

    // calendar-anchored trailing 7-DAY mean (RANGE frame over epoch
    // days — slides over the calendar, not over observations)
    "q260_range_window" -> ((s, d) =>
      EventSeries.calendarMean(bars(s, d), 7)
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // exact discrete session-duration percentiles per key
    "q261_session_stats" -> ((s, d) =>
      EventSeries.sessionStats(
          EventSeries.sessions(Tables.events(s, d), 30))
        .orderBy(col("user_id"))),

    // directional movement: DI+/DI-/ADX(14), rolling-sum form
    "q245_adx" -> ((s, d) => {
      val (dip, dim, adx) = Indicators.adx(col("high"), col("low"),
        col("close"), seriesW, 14)
      bars(s, d).select(col("user_id"), col("date"),
          dip.as("di_plus"), dim.as("di_minus"), adx.as("adx_14"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // vortex oscillator VI+/VI-(14)
    "q246_vortex" -> ((s, d) => {
      val (vip, vim) = Indicators.vortex(col("high"), col("low"),
        col("close"), seriesW, 14)
      bars(s, d).select(col("user_id"), col("date"),
          vip.as("vi_plus"), vim.as("vi_minus"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // accumulation/distribution line — exact scaled-long cumsum
    "q247_ad_line" -> ((s, d) =>
      EventSeries.adLine(bars(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // overnight gap statistics per key, exact 4dp moments
    "q248_gap_stats" -> ((s, d) =>
      EventSeries.gapStats(bars(s, d)).orderBy(col("user_id"))),

    // Chande momentum oscillator — one exact signed bridge per row
    "q249_cmo" -> ((s, d) =>
      EventSeries.chandeMomentum(staged(s, d), 14)
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // turn-of-month effect: edge-days mean return vs middle days
    "q250_tom_effect" -> ((s, d) =>
      EventSeries.tomEffect(staged(s, d)).orderBy(col("user_id"))),

    // Amihud illiquidity: mean |return|/volume via double bridge
    "q240_amihud" -> ((s, d) =>
      EventSeries.amihud(staged(s, d)).orderBy(col("user_id"))),

    // volume-at-price profile: per-key equal-width close bins with
    // exact volume shares
    "q220_volume_profile" -> ((s, d) =>
      EventSeries.volumeProfile(bars(s, d), 10)
        .orderBy(col("user_id"), col("bin"))),

    // new vs returning actives per date, exact new-share
    "q213_new_returning" -> ((s, d) =>
      EventSeries.newVsReturning(Tables.events(s, d))
        .orderBy(col("date"))),

    // rolling 30-row market beta per key (covar/var over the frame)
    "q214_rolling_beta" -> ((s, d) =>
      EventSeries.rollingBeta(staged(s, d), 30)
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // RiskMetrics EWMA volatility (zero-seeded recurrence), daily +
    // annualized
    "q207_ewma_vol" -> ((s, d) =>
      EventSeries.ewmaVolatility(staged(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // Garman-Klass OHLC range volatility, 20-bar rolling
    "q208_garman_klass" -> ((s, d) =>
      bars(s, d).select(col("user_id"), col("date"),
          Indicators.garmanKlass(col("open"), col("high"), col("low"),
            col("close"), seriesW, 20).as("gk_vol"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // top event-type trigram paths (corpus-wide, deterministic order)
    "q209_event_paths" -> ((s, d) =>
      EventSeries.eventPaths(Tables.events(s, d), 20)
        .orderBy(col("rank"))),

    // two-sided CUSUM drift monitor over daily returns — sorted-scan
    // recurrence, oracle replays the fold via 0-prepended list_reduce
    "q204_cusum" -> ((s, d) =>
      EventSeries.cusum(staged(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // first/last-touch purchase attribution inside (user, day)
    "q205_attribution" -> ((s, d) =>
      EventSeries.attribution(Tables.events(s, d))
        .orderBy(col("channel"))),

    // additive seasonal decomposition: centered-MA trend, exact
    // per-(key, dow) seasonal means, residual
    "q206_seasonal" -> ((s, d) =>
      EventSeries.seasonalDecompose(bars(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // SCD Type 2 history of each user's dominant daily event type:
    // change rows only, day-grained validity ranges, version counter
    "q195_scd2" -> ((s, d) =>
      Writes.scd2(EventSeries.dailySentiment(Tables.events(s, d)),
          key = "user_id", attr = "sentiment", timeCol = "date")
        .withColumn("effective_from", iso(col("effective_from")))
        .withColumn("effective_to", iso(col("effective_to")))
        .orderBy(col("user_id"), col("version"))),

    // Kaplan-Meier survival over user activity lifetimes
    "q197_survival" -> ((s, d) =>
      EventSeries.kaplanMeier(Tables.events(s, d)).orderBy(col("t"))),

    // rolling 7-day distinct active users per observed date
    "q149_rolling_active" -> ((s, d) =>
      EventSeries.rollingActiveUsers(Tables.events(s, d), 7)
        .orderBy(col("date"))),

    // RFM segmentation: recency/frequency/monetary ntile(5) scores
    "q150_rfm" -> ((s, d) =>
      EventSeries.rfmSegments(Tables.events(s, d), 5)
        .orderBy(col("user_id"))),

    // calendar gap-fill + forward-fill (pandas asfreq('D').ffill())
    "q151_gapfill" -> ((s, d) =>
      EventSeries.gapFill(bars(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // cross-sectional momentum quintiles: per-date ntile on trailing
    // 5d return, mean next-day return per bucket
    "q152_momentum_quintiles" -> ((s, d) =>
      EventSeries.momentumQuintiles(bars(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("date"), col("quintile"))),

    // lag-1..3 autocorrelation of daily returns per key
    "q153_autocorr" -> ((s, d) =>
      EventSeries.returnAutocorr(staged(s, d))
        .orderBy(col("user_id"), col("lag"))),

    // volume spikes z-scored against the prior 14 days
    "q154_volume_anomaly" -> ((s, d) =>
      EventSeries.volumeAnomalies(bars(s, d))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // Donchian channel(20) on the prior window + breakout signal
    "q160_donchian" -> ((s, d) => {
      val (u, l, sig) = Indicators.donchian(col("high"), col("low"),
        col("close"), seriesW, 20)
      bars(s, d).select(col("user_id"), col("date"), col("close"),
          u.as("upper"), l.as("lower"), sig.as("signal"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))
    }),

    // weekly VWAP: volume-weighted close per (user, week). The 4dp
    // closes lift to exact scaled longs so the weighted-mean round is
    // integer-exact — the double form hit real …5 decimal ties at
    // sf0.01 (the q88/ExactRound class)
    "q161_weekly_vwap" -> ((s, d) => {
      val cScaled = round(col("close") * 10000).cast("long")
      bars(s, d)
        .groupBy(col("user_id"),
          date_trunc("week", col("date")).as("wk"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("volume")).as("volume"),
          (graft.functions.ExactRound.scaled(
            sum(cScaled * col("volume")), sum(col("volume")), 0)
            .cast("double") / 10000).as("vwap"))
        .select(col("user_id"), iso(col("wk")).as("week"),
          col("n_days"), col("volume"), col("vwap"))
        .orderBy(col("user_id"), col("week"))
    }),

    // Williams %R(14): bounded [-100,0] overbought/oversold gauge,
    // the lookback INCLUDES the current row (classic definition)
    "q167_williams_r" -> ((s, d) =>
      // staged %R: one count/max/min each (r13 window-expr dedup)
      Indicators.williamsRStaged(bars(s, d), col("high"), col("low"),
          col("close"), seriesW, 14, "wr_14")
        .select(col("user_id"), col("date"), col("close"), col("wr_14"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // CCI(20): Lambert mean-absolute-deviation indicator — the MD term
    // folds the bounded window list against the window's own SMA
    "q168_cci" -> ((s, d) =>
      bars(s, d).select(col("user_id"), col("date"),
          Indicators.cci(col("high"), col("low"), col("close"),
            seriesW, 20).as("cci_20"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // MFI(14): volume-weighted RSI analogue over typical-price flows
    "q169_mfi" -> ((s, d) =>
      bars(s, d).select(col("user_id"), col("date"),
          Indicators.mfi(col("high"), col("low"), col("close"),
            col("volume"), seriesW, 14).as("mfi_14"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // Keltner channels: recursive EMA(20) of typical price ± 2·ATR(10),
    // EMA + ring-buffer ATR fused into one sorted scan (one Exchange)
    "q170_keltner" -> ((s, d) =>
      EventSeries.keltner(bars(s, d), emaSpan = 20, atrPeriod = 10,
          mult = 2.0)
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // per-key annualized Sharpe/Sortino risk summary over daily returns
    "q171_risk_summary" -> ((s, d) =>
      EventSeries.riskSummary(staged(s, d), minDays = 10)
        .orderBy(col("user_id"))),

    // Holt double exponential smoothing (level + trend + one-step
    // forecast), one sorted scan per key; oracle replays the identical
    // double recurrence via a recursive CTE
    "q178_holt" -> ((s, d) =>
      EventSeries.holt(bars(s, d), alpha = 0.5, beta = 0.3)
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // market breadth: per-date advance/decline counts and the
    // cumulative A/D line over the whole market
    "q179_breadth" -> ((s, d) => {
      val dayAgg = staged(s, d).where(col("pct_change").isNotNull)
        .groupBy(col("date"))
        .agg(count(when(col("pct_change") > 0, 1)).as("advances"),
          count(when(col("pct_change") < 0, 1)).as("declines"),
          count(when(col("pct_change") === 0, 1)).as("unchanged"))
      // unpartitioned cumulative window over the per-DATE advance/
      // decline frame — span-bounded (scale-audit r13)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("date"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      dayAgg.withColumn("ad_line",
          sum(col("advances") - col("declines")).over(w))
        .withColumn("date", iso(col("date")))
        .orderBy(col("date"))
    }),

    // Chaikin Money Flow(20): volume-weighted close-location flow
    "q180_cmf" -> ((s, d) =>
      bars(s, d).select(col("user_id"), col("date"),
          Indicators.cmf(col("high"), col("low"), col("close"),
            col("volume"), seriesW, 20).as("cmf_20"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // Ulcer Index(14): RMS percent drawdown from the trailing-window high
    "q181_ulcer" -> ((s, d) =>
      bars(s, d).select(col("user_id"), col("date"),
          Indicators.ulcerIndex(col("close"), seriesW, 14).as("ui_14"))
        .withColumn("date", iso(col("date")))
        .orderBy(col("user_id"), col("date"))),

    // Spearman rank correlation of volume vs |daily return| per key
    // (the volume-volatility stylized fact), tie-correct midranks
    "q177_vol_volume_rank_corr" -> ((s, d) =>
      graft.operators.ModelEval.spearman(
          staged(s, d).where(col("pct_change").isNotNull)
            .select(col("user_id"), col("volume").cast("double").as("v"),
              abs(col("pct_change")).as("a")),
          "user_id", "v", "a")
        .orderBy(col("user_id"))),

    // ordered conversion funnel per (user, day): view → click →
    // purchase with in-order timestamps; reached = prefix length
    "q136_daily_funnel" -> ((s, d) =>
      EventSeries.dailyFunnel(Tables.events(s, d))
        .orderBy(col("user_id"), col("date"))),

    // cohort retention: users keyed by first active day, distinct
    // actives per (cohort, day offset)
    "q137_cohort_retention" -> ((s, d) =>
      EventSeries.cohortRetention(Tables.events(s, d))
        .orderBy(col("cohort_date"), col("day_offset"))),

    // funnel latency: per-date view->purchase p50/p90 for completed
    // funnels (the q67b interpolated-percentile bridge)
    "q166_funnel_latency" -> ((s, d) =>
      EventSeries.funnelLatency(Tables.events(s, d))
        .orderBy(col("date"))),

    "q62_sessions" -> ((s, d) =>
      graft.operators.EventSeries.sessions(Tables.events(s, d),
          gapMinutes = 30)
        .orderBy(col("user_id"), col("session_id"))),

    // binned range join: events attributed back to the session window
    // containing them (self-validating: n_in_window == the session's
    // n_events). The bin width matches the gap, so interval fan-out
    // stays ~2x and no per-key cartesian forms.
    "q64_session_attribution" -> ((s, d) => {
      val events = Tables.events(s, d)
      val sess = graft.operators.EventSeries.sessions(events, 30)
        .select(col("user_id"), col("session_id"), col("start_us"),
          col("end_us"))
      val probe = events.select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      graft.operators.RangeJoin.joinRange(probe, sess, Seq("user_id"),
          "ts_us", "start_us", "end_us", binWidth = 30L * 60 * 1000000)
        .groupBy(col("user_id"), col("session_id"), col("start_us"))
        .agg(count(lit(1)).as("n_in_window"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Structured Streaming: the daily aggregation executed as an
    // availableNow stream (file source → windowed agg → memory sink).
    // The decimal sum is exact, so the batch oracle matches bit-for-bit.
    "q52_stream_daily_counts" -> ((s, d) => {
      val src = graft.streaming.StreamingIngest.readEvents(s,
        s"$d/events.parquet")
      val agg = src
        .groupBy(col("user_id"), window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
      val sink = "q52_sink_" + java.util.UUID.randomUUID().toString
        .replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink).select(col("user_id"),
          iso(col("window.start")).as("date"),
          col("n_events"),
          col("sum_dec").cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("date"))
    }),

    // F-JSON: enrichment payload decode (from_json ↔ json_extract).
    // The null guard is on the raw props column, NOT on the parsed field:
    // filtering on the parsed value makes Catalyst evaluate from_json in
    // both the Filter and the Project (it is also a codegen-fallback
    // expression), doubling the dominant cost of the query.
    "q26_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("props").isNotNull)
        .select(col("event_id"),
          from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").cast("long")
            .as("k"))
        .orderBy(col("event_id"))),

    // same extraction through the native codegen'd structural scan
    // (plans/JsonExpression.scala) — the 100 TB path: from_json falls
    // back to interpreted eval with a full Jackson parse + row alloc
    // per value, where this stays one generated-code byte scan
    // (measured at 32× in BASELINE.md). Same oracle as q26; parity
    // with from_json is pinned expression-level in JsonExpressionSpec
    "q26b_json_native" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("props").isNotNull)
        .select(col("event_id"),
          graft.plans.JsonFns.jsonGetLong(col("props"), "k").as("k"))
        .orderBy(col("event_id"))))

  /** Gap-30min sessionization CTE shared by q62 (the sessions
    * themselves) and q64 (range-join attribution back onto them). */
  private val SESSIONS_CTE =
    """WITH l AS (
         SELECT user_id, event_id, ts, value,
                lag(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev
         FROM events),
       b AS (
         SELECT *, CASE WHEN prev IS NULL
             OR epoch_us(ts) - epoch_us(prev) > 1800000000
           THEN 1 ELSE 0 END AS brk
         FROM l),
       s AS (
         SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
         FROM b),
       sess AS (
         SELECT user_id, session_id,
                CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,
                CAST(max(epoch_us(ts)) AS BIGINT) AS end_us,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
         FROM s GROUP BY 1, 2)"""

  val oracle: Map[String, String] = Map(
    "q10_daily_bars" -> (BARS +
      " SELECT user_id, strftime(date, '%Y-%m-%d') AS date, open, high, low, close, volume FROM bars" +
      " ORDER BY 1, 2"),
    "q11_staged_prices" -> (STAGED +
      """ SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close, prev_close, price_change, pct_change
          FROM staged ORDER BY 1, 2"""),
    "q12_lead_target" -> (BARS +
      """ SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
            lead(close) OVER w AS next_close,
            round((lead(close) OVER w - close) / nullif(close, 0) * 100, 4)
              AS next_return
          FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY date)
          ORDER BY 1, 2"""),
    "q13_rolling" -> (BARS +
      """ SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
            round(avg(close) OVER f, 4) AS ma5,
            round(stddev_samp(close) OVER f, 4) AS sd5
          FROM bars
          WINDOW f AS (PARTITION BY user_id ORDER BY date
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
          ORDER BY 1, 2"""),
    "q14_rolling_minp" -> (BARS +
      """ SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
            round(CASE WHEN count(close) OVER f >= 3
                       THEN avg(close) OVER f END, 4) AS ma3
          FROM bars
          WINDOW f AS (PARTITION BY user_id ORDER BY date
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
          ORDER BY 1, 2"""),
    "q15_rsi" -> (BARS +
      """, delta AS (
            SELECT user_id, date,
                   close - lag(close) OVER (PARTITION BY user_id
                                            ORDER BY date) AS d
            FROM bars),
          gl AS (
            SELECT user_id, date,
                   CASE WHEN d > 0 THEN d ELSE 0 END AS gain,
                   CASE WHEN d < 0 THEN -d ELSE 0 END AS loss
            FROM delta),
          r AS (
            SELECT user_id, date,
                   CASE WHEN count(gain) OVER f >= 14
                        THEN avg(gain) OVER f END AS ag,
                   CASE WHEN count(loss) OVER f >= 14
                        THEN avg(loss) OVER f END AS al
            FROM gl
            WINDOW f AS (PARTITION BY user_id ORDER BY date
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 round(CASE WHEN al = 0 THEN 100.0
                            ELSE 100.0 - 100.0 / (1.0 + ag / al) END, 4)
                   AS rsi_14
          FROM r ORDER BY 1, 2"""),
    "q16_atr" -> (BARS +
      """, tr AS (
            SELECT user_id, date,
                   greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) AS tr
            FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY date))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 round(CASE WHEN count(tr) OVER f >= 14
                            THEN avg(tr) OVER f END, 4) AS atr_14
          FROM tr
          WINDOW f AS (PARTITION BY user_id ORDER BY date
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
          ORDER BY 1, 2"""),
    "q17_bollinger" -> (BARS +
      """, bb AS (
            SELECT user_id, date,
                   CASE WHEN count(close) OVER f >= 20
                        THEN avg(close) OVER f END AS sma,
                   CASE WHEN count(close) OVER f >= 20
                        THEN stddev_samp(close) OVER f END AS sd
            FROM bars
            WINDOW f AS (PARTITION BY user_id ORDER BY date
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 round(4.0 * sd / nullif(sma, 0) * 100, 4) AS bb_width_20
          FROM bb ORDER BY 1, 2"""),
    "q18_fact_sentiment" -> (STAGED +
      """, sent AS (
            SELECT user_id, date, lower(event_type) AS sentiment,
                   n AS n_events
            FROM (SELECT user_id, CAST(ts AS DATE) AS date, event_type,
                         count(*) AS n,
                         row_number() OVER (
                           PARTITION BY user_id, CAST(ts AS DATE)
                           ORDER BY count(*) DESC, event_type) AS rn
                  FROM events GROUP BY 1, 2, 3) t
            WHERE rn = 1)
          SELECT s.user_id, strftime(s.date, '%Y-%m-%d') AS date, s.close, s.prev_close, s.pct_change,
                 g.sentiment, g.n_events,
                 CASE WHEN abs(s.pct_change) > 5 THEN 'large_move'
                      WHEN abs(s.pct_change) > 2 THEN 'medium_move'
                      ELSE 'small_move' END AS move_category
          FROM staged s LEFT JOIN sent g
            ON s.user_id = g.user_id AND s.date = g.date
          ORDER BY 1, 2"""),
    "q20_string_agg" -> (STAGED +
      """ SELECT user_id,
            string_agg(CASE WHEN pct_change > 0 THEN 'U'
                            WHEN pct_change < 0 THEN 'D'
                            ELSE '_' END, '' ORDER BY date) AS moves
          FROM staged GROUP BY 1 ORDER BY 1"""),
    "q22_insert_ignore" -> (BARS +
      """, existing AS (
            SELECT * FROM bars WHERE date <= DATE '2024-01-15'),
          incoming AS (
            SELECT user_id, date, open, high, low, close,
                   volume + 1000 AS volume
            FROM bars
            WHERE date BETWEEN DATE '2024-01-10' AND DATE '2024-01-20')
        , merged AS (
            SELECT * FROM existing
            UNION ALL
            SELECT * FROM incoming i
            WHERE NOT EXISTS (SELECT 1 FROM existing e
                              WHERE e.user_id = i.user_id
                                AND e.date = i.date))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, open, high,
                 low, close, volume
          FROM merged ORDER BY user_id, date"""),
    "q81_insert_ignore_bloom" -> (BARS +
      """, existing AS (
            SELECT * FROM bars WHERE date <= DATE '2024-01-15'),
          incoming AS (
            SELECT user_id, date, open, high, low, close,
                   volume + 1000 AS volume
            FROM bars
            WHERE date BETWEEN DATE '2024-01-10' AND DATE '2024-01-20')
        , merged AS (
            SELECT * FROM existing
            UNION ALL
            SELECT * FROM incoming i
            WHERE NOT EXISTS (SELECT 1 FROM existing e
                              WHERE e.user_id = i.user_id
                                AND e.date = i.date))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, open, high,
                 low, close, volume
          FROM merged ORDER BY user_id, date"""),
    "q23_upsert" -> (BARS +
      """, existing AS (
            SELECT * FROM bars WHERE date <= DATE '2024-01-15'),
          incoming AS (
            SELECT user_id, date, open, high, low, close,
                   volume + 1000 AS volume
            FROM bars
            WHERE date BETWEEN DATE '2024-01-10' AND DATE '2024-01-20')
        , merged AS (
            SELECT * FROM existing e
            WHERE NOT EXISTS (SELECT 1 FROM incoming i
                              WHERE i.user_id = e.user_id
                                AND i.date = e.date)
            UNION ALL
            SELECT * FROM incoming)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, open, high,
                 low, close, volume
          FROM merged ORDER BY user_id, date"""),
    "q24_cut_bins" -> (BARS +
      """, v AS (
            SELECT user_id, date,
                   round((high - low) / nullif(close, 0) * 100, 4)
                     AS volatility
            FROM bars)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, volatility,
                 CASE WHEN volatility IS NULL THEN NULL
                      WHEN volatility <= 2 THEN 'low'
                      WHEN volatility <= 5 THEN 'medium'
                      ELSE 'high' END AS vol_class
          FROM v ORDER BY 1, 2"""),
    "q49_enriched_fact" -> (STAGED +
      """ SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
            pct_change,
            CASE WHEN pct_change IS NULL THEN NULL
                 WHEN pct_change > 1 THEN 'positive'
                 WHEN pct_change < -1 THEN 'negative'
                 ELSE 'neutral' END AS sentiment,
            CASE WHEN pct_change IS NULL THEN NULL
                 WHEN abs(pct_change) > 5 THEN 'volatility'
                 WHEN abs(pct_change) > 2 THEN 'momentum'
                 ELSE 'steady' END AS topic,
            CASE WHEN abs(pct_change) > 5 THEN 'large_move'
                 WHEN abs(pct_change) > 2 THEN 'medium_move'
                 ELSE 'small_move' END AS move_category
          FROM staged ORDER BY 1, 2"""),
    "q59_asof_join" -> (STAGED +
      """, sparse AS (
            SELECT user_id, date,
                   CASE WHEN pct_change > 0 THEN 'positive'
                        ELSE 'negative' END AS last_signal
            FROM staged WHERE abs(pct_change) > 2)
          SELECT b.user_id, strftime(b.date, '%Y-%m-%d') AS date, b.close,
                 s.last_signal
          FROM bars b ASOF LEFT JOIN sparse s
            ON b.user_id = s.user_id AND b.date >= s.date
          ORDER BY 1, 2"""),
    "q84_asof_tolerance" -> (STAGED +
      """, sparse AS (
            SELECT user_id, date,
                   CASE WHEN pct_change > 0 THEN 'positive'
                        ELSE 'negative' END AS last_signal
            FROM staged WHERE abs(pct_change) > 2)
          SELECT b.user_id, strftime(b.date, '%Y-%m-%d') AS date, b.close,
                 CASE WHEN s.date >= b.date - INTERVAL 7 DAY
                      THEN s.last_signal END AS last_signal
          FROM bars b ASOF LEFT JOIN sparse s
            ON b.user_id = s.user_id AND b.date >= s.date
          ORDER BY 1, 2"""),
    "q85_asof_forward" -> (STAGED +
      """, sparse AS (
            SELECT user_id, date,
                   CASE WHEN pct_change > 0 THEN 'positive'
                        ELSE 'negative' END AS next_signal
            FROM staged WHERE abs(pct_change) > 2)
          SELECT b.user_id, strftime(b.date, '%Y-%m-%d') AS date, b.close,
                 (SELECT min_by(s.next_signal, s.date) FROM sparse s
                  WHERE s.user_id = b.user_id AND s.date >= b.date)
                   AS next_signal
          FROM bars b
          ORDER BY 1, 2"""),
    "q89_asof_nearest" -> (STAGED +
      """, sparse AS (
            SELECT user_id, date,
                   CASE WHEN pct_change > 0 THEN 'positive'
                        ELSE 'negative' END AS near_signal
            FROM staged WHERE abs(pct_change) > 2)
          SELECT b.user_id, strftime(b.date, '%Y-%m-%d') AS date, b.close,
                 (SELECT s.near_signal FROM sparse s
                  WHERE s.user_id = b.user_id
                  ORDER BY abs(date_diff('day', s.date, b.date)),
                           s.date LIMIT 1) AS near_signal
          FROM bars b
          ORDER BY 1, 2"""),
    "q91_cdc_apply" -> (BARS +
      """, existing AS (
            SELECT user_id, date, close FROM (
              SELECT user_id, date, close,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY date DESC) AS rn
              FROM bars WHERE date <= DATE '2024-01-15') t
            WHERE rn = 1),
          changes AS (
            SELECT user_id, date, close,
                   CASE WHEN user_id % 7 = 0 THEN 'D' ELSE 'U' END AS op
            FROM bars WHERE date > DATE '2024-01-15'),
          latest AS (
            SELECT user_id, date, close, op FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY date DESC, op DESC) AS rn
              FROM changes) t
            WHERE rn = 1)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close
          FROM (
            SELECT e.user_id, e.date, e.close FROM existing e
            WHERE NOT EXISTS (SELECT 1 FROM latest l
                              WHERE l.user_id = e.user_id)
            UNION ALL
            SELECT user_id, date, close FROM latest WHERE op <> 'D')
          ORDER BY user_id"""),
    "q62_sessions" -> (SESSIONS_CTE + """
         SELECT user_id, session_id, start_us, end_us, n_events,
                sum_value
         FROM sess ORDER BY 1, 2"""),
    "q64_session_attribution" -> (SESSIONS_CTE + """
         SELECT se.user_id, se.session_id, se.start_us,
                count(*) AS n_in_window
         FROM sess se JOIN events e ON e.user_id = se.user_id
           AND epoch_us(e.ts) BETWEEN se.start_us AND se.end_us
         GROUP BY 1, 2, 3 ORDER BY 1, 2"""),
    // q139/q140: the same per-user (ts, event_id) lag ordering
    "q139_event_transitions" ->
      """WITH e AS (
           SELECT user_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS prev_type
           FROM events)
         SELECT prev_type, event_type AS next_type, count(*) AS n
         FROM e WHERE prev_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q140_event_gaps" ->
      """WITH e AS (
           SELECT user_id,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS gap
           FROM events)
         SELECT user_id, count(*) AS n_gaps,
                quantile_cont(gap, 0.5) AS gap_p50_us,
                quantile_cont(gap, 0.75) AS gap_p75_us,
                max(gap) AS gap_max_us
         FROM e WHERE gap IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    // q138: identical two-window + aggregate construction; DECIMAL sum
    "q138_weekly_bars" ->
      """WITH e AS (
           SELECT user_id,
                  strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
                  epoch_us(ts) AS ts_us, event_id, value AS v
           FROM events),
         r AS (
           SELECT *,
                  row_number() OVER (PARTITION BY user_id, week
                    ORDER BY ts_us, event_id) AS r1,
                  row_number() OVER (PARTITION BY user_id, week
                    ORDER BY ts_us DESC, event_id DESC) AS r2
           FROM e)
         SELECT user_id, week,
                max(CASE WHEN r1 = 1 THEN v END) AS open,
                max(v) AS high, min(v) AS low,
                max(CASE WHEN r2 = 1 THEN v END) AS close,
                count(*) AS volume,
                CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
         FROM r GROUP BY 1, 2 ORDER BY user_id, week""",
    // q142: per-row left fold over the close prefix — the recursive
    // adjust=False EMA; DOUBLE literals (2e0/…) keep the lambda in
    // IEEE double so the fold is bit-identical to the engine's scan.
    // Signal folds the UNROUNDED macd prefix exactly like the engine.
    "q142_ema_macd" -> (BARS +
      """, l AS (
            SELECT user_id, date, close,
                   list(close) OVER (PARTITION BY user_id ORDER BY date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cs
            FROM bars),
          e AS (
            SELECT user_id, date, close,
                   list_reduce(cs, (a, b) ->
                     (2e0/13e0)*b + (1e0 - 2e0/13e0)*a) AS e12,
                   list_reduce(cs, (a, b) ->
                     (2e0/27e0)*b + (1e0 - 2e0/27e0)*a) AS e26
            FROM l),
          m AS (
            SELECT user_id, date, close, e12, e26, e12 - e26 AS macd
            FROM e),
          sg AS (
            SELECT user_id, date, close, e12, e26, macd,
                   list_reduce(list(macd) OVER (PARTITION BY user_id
                       ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW),
                     (a, b) -> (2e0/10e0)*b + (1e0 - 2e0/10e0)*a)
                     AS sig
            FROM m)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
                 round(e12, 4) AS ema_fast, round(e26, 4) AS ema_slow,
                 round(macd, 4) + 0 AS macd,
                 round(sig, 4) + 0 AS macd_signal,
                 round(macd - sig, 4) + 0 AS macd_hist
          FROM sg ORDER BY 1, 2"""),
    // q143: cummax peak, drawdown, cummin of the ROUNDED drawdown
    "q143_drawdown" -> (BARS +
      """, dd AS (
            SELECT user_id, date, close,
                   max(close) OVER w AS peak,
                   round((close - max(close) OVER w)
                         / max(close) OVER w * 100, 4) AS drawdown_pct
            FROM bars
            WINDOW w AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
                 peak, drawdown_pct,
                 min(drawdown_pct) OVER (PARTITION BY user_id
                   ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND
                   CURRENT ROW) AS max_drawdown_pct
          FROM dd ORDER BY 1, 2"""),
    // q144: date-keyed self-join (upper triangle), Pearson corr of the
    // 4dp staged returns
    "q144_pair_corr" -> (STAGED +
      """ SELECT a.user_id AS user_a, b.user_id AS user_b,
                 count(*) AS n_days,
                 round(corr(a.pct_change, b.pct_change), 4) + 0
                   AS ret_corr
          FROM staged a JOIN staged b USING (date)
          WHERE a.user_id < b.user_id
            AND a.pct_change IS NOT NULL AND b.pct_change IS NOT NULL
          GROUP BY 1, 2 HAVING count(*) >= 10 ORDER BY 1, 2"""),
    // q145: equal-weight market return per date, then per-key
    // covar_pop/var_pop beta and the implied alpha
    "q145_beta" -> (STAGED +
      """, r AS (
            SELECT user_id, date, pct_change AS ret FROM staged
            WHERE pct_change IS NOT NULL),
          mkt AS (
            SELECT date, avg(ret) AS mkt_ret FROM r GROUP BY 1)
          SELECT user_id, count(*) AS n_days,
                 round(covar_pop(ret, mkt_ret) / var_pop(mkt_ret), 4)
                   + 0 AS beta,
                 round(avg(ret) - covar_pop(ret, mkt_ret)
                       / var_pop(mkt_ret) * avg(mkt_ret), 4) + 0
                   AS alpha
          FROM r JOIN mkt USING (date)
          GROUP BY 1 HAVING count(*) >= 10 ORDER BY 1"""),
    // q147: %K gated at min_periods=14; %D = 3-row SMA of the ROUNDED
    // %K (both engines smooth identical 4dp values)
    "q147_stochastic" -> (BARS +
      """, k AS (
            SELECT user_id, date, close,
                   CASE WHEN count(low) OVER f >= 14 THEN
                     round((close - min(low) OVER f)
                           / nullif(max(high) OVER f
                                    - min(low) OVER f, 0)
                           * 100, 4) END AS pct_k
            FROM bars
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
                 pct_k,
                 CASE WHEN count(pct_k) OVER g >= 3
                      THEN round(avg(pct_k) OVER g, 4) END AS pct_d
          FROM k
          WINDOW g AS (PARTITION BY user_id ORDER BY date
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
          ORDER BY 1, 2"""),
    // q148: cumulative signed volume — all-integer arithmetic
    "q148_obv" -> (BARS +
      """, sv AS (
            SELECT user_id, date, close, volume,
                   CASE WHEN close - lag(close) OVER w > 0 THEN volume
                        WHEN close - lag(close) OVER w < 0
                          THEN -volume
                        ELSE 0 END AS s
            FROM bars
            WINDOW w AS (PARTITION BY user_id ORDER BY date))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
                 CAST(volume AS BIGINT) AS volume,
                 CAST(sum(s) OVER c AS BIGINT) AS obv
          FROM sv
          WINDOW c AS (PARTITION BY user_id ORDER BY date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          ORDER BY 1, 2"""),
    // q187: hi/lo position via named-struct max over the trailing
    // frame — {'v', 'r'} compares lexicographically, ties to larger rn
    "q187_aroon" -> (BARS +
      """, rn AS (
            SELECT user_id, date, high, low,
                   CAST(row_number() OVER (PARTITION BY user_id
                     ORDER BY date) AS BIGINT) AS rn
            FROM bars),
          a AS (
            SELECT user_id, date, high, low, rn,
                   (max({'v': high, 'r': rn}) OVER f).r AS hi_rn,
                   (max({'v': -low, 'r': rn}) OVER f).r AS lo_rn,
                   count(*) OVER f AS nw
            FROM rn
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 25 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, high, low,
                 CASE WHEN nw >= 26 THEN
                   CAST(((25 - (rn - hi_rn)) * 100 * 20000 + 25) // 50
                     AS DOUBLE) / 10000 END AS aroon_up,
                 CASE WHEN nw >= 26 THEN
                   CAST(((25 - (rn - lo_rn)) * 100 * 20000 + 25) // 50
                     AS DOUBLE) / 10000 END AS aroon_down
          FROM a ORDER BY 1, 2"""),

    // q188: islands keyed by (global rn − per-direction rn); flat days
    // count toward n_days but never extend a streak
    "q188_streaks" -> (STAGED +
      """, ch AS (
            SELECT user_id, date,
                   CAST(sign(price_change) AS INTEGER) AS dir
            FROM staged WHERE price_change IS NOT NULL),
          isl AS (
            SELECT user_id, dir,
                   row_number() OVER (PARTITION BY user_id ORDER BY date)
                     - row_number() OVER (PARTITION BY user_id, dir
                         ORDER BY date) AS grp
            FROM ch),
          runs AS (
            SELECT user_id, dir, grp, count(*) AS len
            FROM isl GROUP BY 1, 2, 3)
          SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days,
                 CAST(coalesce(max(CASE WHEN dir = 1 THEN len END), 0)
                   AS BIGINT) AS longest_up,
                 CAST(coalesce(max(CASE WHEN dir = -1 THEN len END), 0)
                   AS BIGINT) AS longest_down
          FROM runs GROUP BY 1 ORDER BY 1"""),

    // q189: body/shadow double comparisons mirror the Spark flags
    // exactly; output is pure integer counts
    "q189_candles" -> (BARS +
      """, fl AS (
            SELECT user_id, open, close,
                   abs(close - open) AS body, high - low AS rng,
                   high - greatest(open, close) AS ush,
                   least(open, close) - low AS lsh,
                   lag(open) OVER w AS po, lag(close) OVER w AS pc
            FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY date))
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(CASE WHEN rng > 0 AND body <= 0.1 * rng
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_doji,
                 CAST(sum(CASE WHEN rng > 0 AND lsh >= 2 * body
                   AND ush <= body THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hammer,
                 CAST(sum(CASE WHEN pc < po AND close > open
                   AND open <= pc AND close >= po THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_bull_engulf,
                 CAST(sum(CASE WHEN pc > po AND close < open
                   AND open >= pc AND close <= po THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_bear_engulf
          FROM fl GROUP BY 1 ORDER BY 1"""),

    // q190: previous-bar pivot algebra, identical double expression
    // trees on both engines, 4dp rounds
    "q190_pivot_points" -> (BARS +
      """, pv AS (
            SELECT user_id, date,
                   lag(high) OVER w AS ph, lag(low) OVER w AS pl,
                   lag(close) OVER w AS pc
            FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY date))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 round((ph + pl + pc) / 3, 4) AS pivot,
                 round(2 * ((ph + pl + pc) / 3) - pl, 4) AS r1,
                 round(2 * ((ph + pl + pc) / 3) - ph, 4) AS s1,
                 round((ph + pl + pc) / 3 + (ph - pl), 4) AS r2,
                 round((ph + pl + pc) / 3 - (ph - pl), 4) AS s2
          FROM pv WHERE ph IS NOT NULL ORDER BY 1, 2"""),

    // q191: DAU over trailing-28-day distinct actives; exact ratio
    "q191_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                     FROM events),
            ds AS (SELECT DISTINCT d AS date FROM ud),
            mau AS (
              SELECT ds.date,
                     CAST(count(DISTINCT ud.user_id) AS BIGINT) AS mau
              FROM ds JOIN ud ON ud.d BETWEEN ds.date - 27 AND ds.date
              GROUP BY 1),
            dau AS (
              SELECT d AS date, CAST(count(*) AS BIGINT) AS dau
              FROM ud GROUP BY 1)
         SELECT strftime(dau.date, '%Y-%m-%d') AS date, dau, mau,
                CAST((dau * 20000 + mau) // (2 * mau) AS DOUBLE) / 10000
                  AS stickiness
         FROM dau JOIN mau ON dau.date = mau.date ORDER BY 1""",

    // q234: scaled-long conditional moments, deterministic doubles
    "q234_weekend_effect" -> (STAGED +
      """, x AS (
            SELECT user_id,
                   CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x,
                   CASE WHEN (dayofweek(date) + 6) % 7 >= 5
                   THEN 1 ELSE 0 END AS w
            FROM staged WHERE pct_change IS NOT NULL),
          g AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS nw,
                   CAST(sum(CASE WHEN w = 1 THEN x ELSE 0 END)
                     AS BIGINT) AS sw,
                   sum(CASE WHEN w = 1 THEN CAST(x AS HUGEINT) * x
                       ELSE 0 END) AS qw,
                   CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS nd,
                   CAST(sum(CASE WHEN w = 0 THEN x ELSE 0 END)
                     AS BIGINT) AS sd,
                   sum(CASE WHEN w = 0 THEN CAST(x AS HUGEINT) * x
                       ELSE 0 END) AS qd
            FROM x GROUP BY 1),
          f AS (
            SELECT user_id, nw, nd, sw, sd,
                   CAST(sw AS DOUBLE) / nw / 10000 AS mw,
                   CAST(sd AS DOUBLE) / nd / 10000 AS md,
                   CAST(nw * qw - CAST(sw AS HUGEINT) * sw AS DOUBLE)
                     / CAST(nw * (nw - 1) AS DOUBLE) / 100000000
                     AS vw,
                   CAST(nd * qd - CAST(sd AS HUGEINT) * sd AS DOUBLE)
                     / CAST(nd * (nd - 1) AS DOUBLE) / 100000000
                     AS vd
            FROM g WHERE nw >= 2 AND nd >= 2)
          SELECT user_id, nw AS n_weekend, nd AS n_weekday,
                 CAST(CASE WHEN sw < 0
                      THEN -((abs(sw) * 2 + nw) // (2 * nw))
                      ELSE (sw * 2 + nw) // (2 * nw) END AS DOUBLE)
                   / 10000 AS mean_weekend,
                 CAST(CASE WHEN sd < 0
                      THEN -((abs(sd) * 2 + nd) // (2 * nd))
                      ELSE (sd * 2 + nd) // (2 * nd) END AS DOUBLE)
                   / 10000 AS mean_weekday,
                 round((mw - md) / sqrt(vw / nw + vd / nd), 4)
                   AS t_stat
          FROM f ORDER BY 1"""),

    // q235: HUGEINT squared numerators, half-up scaled-long cells,
    // total from exact longs
    "q235_chi2_independence" ->
      """WITH cells0 AS (
           SELECT event_type,
                  CAST((dayofweek(CAST(ts AS DATE)) + 6) % 7
                    AS BIGINT) AS dow,
                  CAST(count(*) AS BIGINT) AS o
           FROM events GROUP BY 1, 2),
         rw AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
                FROM cells0 GROUP BY 1),
         cl AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c
                FROM cells0 GROUP BY 1),
         grid AS (
           SELECT rw.event_type, cl.dow, rw.r, cl.c,
                  coalesce(cells0.o, 0) AS o
           FROM rw CROSS JOIN cl
           LEFT JOIN cells0 ON cells0.event_type = rw.event_type
             AND cells0.dow = cl.dow),
         m AS (
           SELECT event_type, dow, o, r, c,
                  CAST(sum(o) OVER () AS BIGINT) AS n
           FROM grid),
         t AS (
           SELECT event_type, dow, o, r, c, n,
                  CAST((CAST(o * n - r * c AS HUGEINT)
                        * (o * n - r * c) * 20000
                        + CAST(n AS HUGEINT) * r * c)
                       // (CAST(n AS HUGEINT) * r * c * 2) AS BIGINT)
                    AS t4
           FROM m)
         SELECT event_type, dow, o AS observed,
                CAST((r * c * 200 + n) // (2 * n) AS DOUBLE) / 100
                  AS expected,
                CAST(t4 AS DOUBLE) / 10000 AS cell_chi2,
                CAST(sum(t4) OVER () AS DOUBLE) / 10000 AS chi2_total
         FROM t ORDER BY 1, 2""",

    // q230: two per-user mins, bounded histogram, exact shares
    "q230_time_to_convert" ->
      """WITH per AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS first_d,
                  min(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS conv_d
           FROM events GROUP BY 1),
         d AS (
           SELECT CASE WHEN conv_d IS NOT NULL
                  THEN CAST(date_diff('day', first_d, conv_d)
                    AS BIGINT) ELSE -1 END AS days
           FROM per),
         g AS (SELECT days, CAST(count(*) AS BIGINT) AS n_users
               FROM d GROUP BY 1),
         w AS (SELECT *, CAST(sum(n_users) OVER () AS BIGINT) AS t
               FROM g)
         SELECT days, n_users,
                CAST((n_users * 20000 + greatest(t, 1))
                     // (2 * greatest(t, 1)) AS DOUBLE) / 10000
                  AS share
         FROM w ORDER BY days""",

    // q231: half-split transitions, per-state argmax (count desc,
    // next asc), exact accuracies vs the global-mode baseline
    "q231_markov_eval" ->
      """WITH ext AS (
           SELECT min(CAST(ts AS DATE)) AS dmin,
                  max(CAST(ts AS DATE)) AS dmax FROM events),
         p0 AS (
           SELECT user_id, CAST(ts AS DATE) AS d,
                  event_type AS e,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS next
           FROM events),
         pairs AS (
           SELECT p0.*, CASE WHEN d <= dmin +
             CAST(date_diff('day', dmin, dmax) // 2 AS INTEGER)
             THEN 1 ELSE 0 END AS is_train
           FROM p0, ext WHERE next IS NOT NULL),
         trans AS (
           SELECT e, next, count(*) AS c FROM pairs
           WHERE is_train = 1 GROUP BY 1, 2),
         pred AS (
           SELECT e, next AS pred FROM (
             SELECT e, next,
                    row_number() OVER (PARTITION BY e
                      ORDER BY c DESC, next ASC) AS rn
             FROM trans) t WHERE rn = 1),
         bp AS (
           SELECT next AS base_pred FROM (
             SELECT next, count(*) AS c FROM pairs
             WHERE is_train = 1 GROUP BY 1
             ORDER BY c DESC, next ASC LIMIT 1) t),
         test AS (
           SELECT pairs.next, pred.pred, bp.base_pred
           FROM pairs LEFT JOIN pred ON pairs.e = pred.e, bp
           WHERE is_train = 0),
         g AS (
           SELECT CAST(count(*) AS BIGINT) AS n_test,
                  CAST(sum(CASE WHEN pred = next THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct,
                  CAST(sum(CASE WHEN base_pred = next THEN 1 ELSE 0
                    END) AS BIGINT) AS n_base
           FROM test)
         SELECT n_test,
                CAST((n_correct * 20000 + greatest(n_test, 1))
                     // (2 * greatest(n_test, 1)) AS DOUBLE) / 10000
                  AS acc_markov,
                CAST((n_base * 20000 + greatest(n_test, 1))
                     // (2 * greatest(n_test, 1)) AS DOUBLE) / 10000
                  AS acc_baseline
         FROM g""",

    // q228: q206's decomposition chain + exact n·Σx² − S² variance
    // moments; signed bridge for the strength ratio
    "q228_seasonal_strength" -> (BARS +
      """, tr AS (
            SELECT user_id, date, close,
                   CASE WHEN count(close) OVER f = 7
                        THEN round(avg(close) OVER f, 4) END AS trend
            FROM bars
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
          dt AS (
            SELECT user_id, date, close, trend,
                   CAST((dayofweek(date) + 6) % 7 AS BIGINT) AS dow,
                   CAST(round(close - trend, 4) AS DECIMAL(14,4))
                     AS detr
            FROM tr),
          se AS (
            SELECT user_id, dow,
                   CAST(sum(detr) * 10000 AS BIGINT) AS s4,
                   CAST(count(*) AS BIGINT) * 10000 AS den
            FROM dt WHERE detr IS NOT NULL GROUP BY 1, 2),
          sm AS (
            SELECT user_id, dow,
                   CAST(CASE WHEN s4 < 0
                        THEN -((abs(s4) * 20000 + den) // (2 * den))
                        ELSE (s4 * 20000 + den) // (2 * den) END
                     AS DOUBLE) / 10000 AS seasonal
            FROM se),
          rr AS (
            SELECT d.user_id,
                   CAST(d.detr * 10000 AS BIGINT) AS d4,
                   CAST(CAST(round(CAST(d.detr AS DOUBLE) - sm.seasonal,
                     4) AS DECIMAL(14,4)) * 10000 AS BIGINT) AS r4
            FROM dt d JOIN sm ON d.user_id = sm.user_id
              AND d.dow = sm.dow
            WHERE d.detr IS NOT NULL),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(d4) AS BIGINT) AS sd,
                   sum(CAST(d4 AS HUGEINT) * d4) AS sdd,
                   CAST(sum(r4) AS BIGINT) AS sr,
                   sum(CAST(r4 AS HUGEINT) * r4) AS srr
            FROM rr GROUP BY 1),
          f AS (
            SELECT user_id, n,
                   CAST(n * sdd - CAST(sd AS HUGEINT) * sd AS BIGINT)
                     AS vd,
                   CAST(n * srr - CAST(sr AS HUGEINT) * sr AS BIGINT)
                     AS vr
            FROM g WHERE n > 1)
          SELECT user_id, n,
                 CASE WHEN vd > 0 THEN
                   CAST(CASE WHEN vd - vr < 0
                        THEN -(((vr - vd) * 20000 + vd) // (2 * vd))
                        ELSE ((vd - vr) * 20000 + vd) // (2 * vd) END
                     AS DOUBLE) / 10000 END AS seasonal_strength
          FROM f ORDER BY 1"""),

    // q224: Mon=0 dow mirror, bounded 7×24 cells, exact shares
    "q224_hourly_heatmap" ->
      """WITH c AS (
           SELECT CAST((dayofweek(CAST(ts AS DATE)) + 6) % 7
                    AS BIGINT) AS dow,
                  CAST(hour(ts) AS BIGINT) AS hour,
                  CAST(count(*) AS BIGINT) AS n_events,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM events GROUP BY 1, 2),
         w AS (SELECT *, CAST(sum(n_events) OVER () AS BIGINT) AS t
               FROM c)
         SELECT dow, hour, n_events, n_users,
                CAST((n_events * 20000 + greatest(t, 1))
                     // (2 * greatest(t, 1)) AS DOUBLE) / 10000
                  AS share
         FROM w ORDER BY 1, 2""",

    // q225: z from exact integer daily-count moments
    "q225_anomaly_days" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(c) AS BIGINT) AS s,
                      CAST(sum(c * c) AS BIGINT) AS ssq
               FROM daily),
         j AS (
           SELECT d, c,
                  CAST(s AS DOUBLE) / n AS mu,
                  CASE WHEN n > 1 THEN
                    sqrt(CAST(n * ssq - s * s AS DOUBLE)
                         / CAST(n * (n - 1) AS DOUBLE)) END AS sd
           FROM daily, m)
         SELECT strftime(d, '%Y-%m-%d') AS date, c AS n_events,
                round((c - mu) / nullif(sd, 0), 4) AS z,
                coalesce(abs((c - mu) / nullif(sd, 0)) >= 2e0, false)
                  AS is_anomaly
         FROM j ORDER BY 1""",

    // q226: distinct (type, user) self-join, exact Jaccard
    "q226_type_overlap" ->
      """WITH tu AS (
           SELECT DISTINCT event_type, user_id FROM events),
         sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                FROM tu GROUP BY 1),
         p AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  CAST(count(*) AS BIGINT) AS n_both
           FROM tu a JOIN tu b ON a.user_id = b.user_id
             AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
                CAST((n_both * 20000 + (sa.n + sb.n - n_both))
                     // (2 * (sa.n + sb.n - n_both)) AS DOUBLE) / 10000
                  AS jaccard
         FROM p JOIN sz sa ON sa.event_type = p.type_a
                JOIN sz sb ON sb.event_type = p.type_b
         ORDER BY 1, 2""",

    // q221: 4dp changes lifted to scaled longs → the co-moment
    // n·Σxy − ΣxΣy is exact; two deterministic double divisions
    "q221_roll_spread" -> (STAGED +
      """, ch AS (
            SELECT user_id, date,
                   CAST(CAST(price_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x4
            FROM staged WHERE price_change IS NOT NULL),
          l AS (
            SELECT user_id, x4,
                   lag(x4) OVER (PARTITION BY user_id ORDER BY date)
                     AS y4
            FROM ch),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x4) AS BIGINT) AS sx,
                   CAST(sum(y4) AS BIGINT) AS sy,
                   sum(CAST(x4 AS HUGEINT) * y4) AS sxy
            FROM l WHERE y4 IS NOT NULL GROUP BY 1),
          cv AS (
            SELECT user_id, n,
                   CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / CAST(n * n AS DOUBLE) / 100000000 AS cov
            FROM g WHERE n >= 10)
          SELECT user_id, n, round(cov, 6) AS serial_cov,
                 CASE WHEN cov < 0 THEN round(2.0 * sqrt(-cov), 4) END
                   AS roll_spread
          FROM cv ORDER BY 1"""),

    // q222: per-key OLS moments, zero-variance guard (staging rebuilt
    // from bars — the shared STAGED CTE drops volume)
    "q222_price_impact" -> (BARS +
      """, st AS (
            SELECT user_id, date, volume,
                   round(close - lag(close) OVER (PARTITION BY user_id
                     ORDER BY date), 4) AS price_change
            FROM bars),
          s AS (
            SELECT user_id, CAST(volume AS BIGINT) AS x,
                   CAST(CAST(abs(price_change) AS DECIMAL(14,4))
                     * 10000 AS BIGINT) AS y4
            FROM st WHERE price_change IS NOT NULL),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y4) AS BIGINT) AS sy4,
                   sum(CAST(x AS HUGEINT) * y4) AS sxy4,
                   sum(CAST(x AS HUGEINT) * x) AS sxx
            FROM s GROUP BY 1),
          f AS (
            SELECT user_id, n, sx, sy4,
                   CAST(n * sxy4 - CAST(sx AS HUGEINT) * sy4 AS DOUBLE)
                     / nullif(CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                         AS DOUBLE), 0) / 10000 AS b
            FROM g WHERE n >= 10)
          SELECT user_id, n, round(b, 6) AS impact_slope,
                 round(CAST(sy4 AS DOUBLE) / n / 10000
                       - b * (CAST(sx AS DOUBLE) / n), 4) AS intercept
          FROM f ORDER BY 1"""),

    // q317: bridge-exact market means; HUGEINT correlation moments at
    // each relative lag; one sqrt per r
    "q317_lead_lag" -> (STAGED +
      """, x AS (
            SELECT user_id, date,
                   CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x
            FROM staged WHERE pct_change IS NOT NULL),
          mkt AS (
            SELECT date,
                   CASE WHEN sm < 0
                   THEN -((abs(sm) * 2 + nm) // (2 * nm))
                   ELSE (abs(sm) * 2 + nm) // (2 * nm) END AS m
            FROM (SELECT date, CAST(count(*) AS BIGINT) AS nm,
                         CAST(sum(x) AS BIGINT) AS sm
                  FROM x GROUP BY 1) t),
          m3 AS (
            SELECT date, m,
                   lag(m) OVER (ORDER BY date) AS m_prev,
                   lead(m) OVER (ORDER BY date) AS m_next
            FROM mkt),
          j AS (SELECT x.user_id, x.x, m3.m, m3.m_prev, m3.m_next
                FROM x JOIN m3 ON x.date = m3.date),
          g AS (
            SELECT user_id,
                   CAST(count(m_prev) AS BIGINT) AS n_lag,
                   CAST(sum(CASE WHEN m_prev IS NOT NULL THEN x END)
                     AS BIGINT) AS sx_lag,
                   CAST(sum(m_prev) AS BIGINT) AS sy_lag,
                   sum(CASE WHEN m_prev IS NOT NULL
                       THEN CAST(x AS HUGEINT) * x END) AS sxx_lag,
                   sum(CAST(m_prev AS HUGEINT) * m_prev) AS syy_lag,
                   sum(CAST(x AS HUGEINT) * m_prev) AS sxy_lag,
                   CAST(count(m) AS BIGINT) AS n_sync,
                   CAST(sum(x) AS BIGINT) AS sx_sync,
                   CAST(sum(m) AS BIGINT) AS sy_sync,
                   sum(CAST(x AS HUGEINT) * x) AS sxx_sync,
                   sum(CAST(m AS HUGEINT) * m) AS syy_sync,
                   sum(CAST(x AS HUGEINT) * m) AS sxy_sync,
                   CAST(count(m_next) AS BIGINT) AS n_lead,
                   CAST(sum(CASE WHEN m_next IS NOT NULL THEN x END)
                     AS BIGINT) AS sx_lead,
                   CAST(sum(m_next) AS BIGINT) AS sy_lead,
                   sum(CASE WHEN m_next IS NOT NULL
                       THEN CAST(x AS HUGEINT) * x END) AS sxx_lead,
                   sum(CAST(m_next AS HUGEINT) * m_next) AS syy_lead,
                   sum(CAST(x AS HUGEINT) * m_next) AS sxy_lead
            FROM j GROUP BY 1)
          SELECT user_id, n_sync AS n_days,
                 round(CAST(n_lag * sxy_lag
                         - CAST(sx_lag AS HUGEINT) * sy_lag AS DOUBLE)
                   / nullif(sqrt(
                       CAST(n_lag * sxx_lag - CAST(sx_lag AS HUGEINT)
                         * sx_lag AS DOUBLE)
                     * CAST(n_lag * syy_lag - CAST(sy_lag AS HUGEINT)
                         * sy_lag AS DOUBLE)), 0), 4)
                   AS r_follows_market,
                 round(CAST(n_sync * sxy_sync
                         - CAST(sx_sync AS HUGEINT) * sy_sync
                         AS DOUBLE)
                   / nullif(sqrt(
                       CAST(n_sync * sxx_sync
                         - CAST(sx_sync AS HUGEINT) * sx_sync
                         AS DOUBLE)
                     * CAST(n_sync * syy_sync
                         - CAST(sy_sync AS HUGEINT) * sy_sync
                         AS DOUBLE)), 0), 4) AS r_sync,
                 round(CAST(n_lead * sxy_lead
                         - CAST(sx_lead AS HUGEINT) * sy_lead
                         AS DOUBLE)
                   / nullif(sqrt(
                       CAST(n_lead * sxx_lead
                         - CAST(sx_lead AS HUGEINT) * sx_lead
                         AS DOUBLE)
                     * CAST(n_lead * syy_lead
                         - CAST(sy_lead AS HUGEINT) * sy_lead
                         AS DOUBLE)), 0), 4) AS r_leads_market
          FROM g WHERE n_sync >= 20 ORDER BY 1"""),

    // q332: 6dp bridge shares, exact OLS moments on the day index
    "q332_mix_trend" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS d,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS k
           FROM events GROUP BY 1),
         src AS (
           SELECT (k * 2000000 + n) // (n * 2) AS y,
                  CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT)
                    AS x
           FROM daily),
         g AS (
           SELECT CAST(count(*) AS BIGINT) AS nd,
                  CAST(sum(x) AS BIGINT) AS sx,
                  CAST(sum(y) AS BIGINT) AS sy,
                  sum(CAST(x AS HUGEINT) * y) AS sxy,
                  sum(CAST(x AS HUGEINT) * x) AS sxx
           FROM src)
         SELECT 'purchase' AS event_type, nd AS n_days,
                CAST((sy * 2 + nd * 100) // (2 * nd * 100) AS DOUBLE)
                  / 10000 AS mean_share,
                round(CAST(nd * sxy - CAST(sx AS HUGEINT) * sy
                    AS DOUBLE)
                  / nullif(CAST(nd * sxx - CAST(sx AS HUGEINT) * sx
                      AS DOUBLE), 0) / 1000000, 8)
                  AS share_slope_per_day
         FROM g""",

    // q329: bounded month×k top tables, one lag join
    "q329_turnover" -> (STAGED +
      """, x AS (
            SELECT user_id, date_trunc('week', date) AS m,
                   CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x
            FROM staged WHERE pct_change IS NOT NULL),
          monthly AS (
            SELECT m, user_id, CAST(sum(x) AS BIGINT) AS r4
            FROM x GROUP BY 1, 2),
          top AS (
            SELECT m, user_id FROM (
              SELECT *, row_number() OVER (PARTITION BY m
                ORDER BY r4 DESC, user_id ASC) AS rn
              FROM monthly) t WHERE rn <= 10),
          months AS (SELECT DISTINCT m FROM top),
          pairs AS (
            SELECT m, lag(m) OVER (ORDER BY m) AS pm FROM months),
          pp AS (SELECT * FROM pairs WHERE pm IS NOT NULL),
          ov AS (
            SELECT pp.m, CAST(count(*) AS BIGINT) AS n_kept
            FROM pp
            JOIN top tp ON tp.m = pp.pm
            WHERE EXISTS (SELECT 1 FROM top tc
                          WHERE tc.m = pp.m
                            AND tc.user_id = tp.user_id)
            GROUP BY 1)
          SELECT strftime(CAST(pp.m AS DATE), '%Y-%m-%d') AS week,
                 coalesce(ov.n_kept, 0) AS n_kept,
                 CAST(((10 - coalesce(ov.n_kept, 0)) * 20000 + 10)
                      // 20 AS DOUBLE) / 10000 AS turnover
          FROM pp LEFT JOIN ov ON pp.m = ov.m
          ORDER BY 1"""),

    // q330: exact excess moments vs the bridge-exact market mean
    "q330_information_ratio" -> (STAGED +
      """, x AS (
            SELECT user_id, date,
                   CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x
            FROM staged WHERE pct_change IS NOT NULL),
          mkt AS (
            SELECT date,
                   CASE WHEN sm < 0
                   THEN -((abs(sm) * 2 + nm) // (2 * nm))
                   ELSE (abs(sm) * 2 + nm) // (2 * nm) END AS m
            FROM (SELECT date, CAST(count(*) AS BIGINT) AS nm,
                         CAST(sum(x) AS BIGINT) AS sm
                  FROM x GROUP BY 1) t),
          e AS (
            SELECT user_id, x.x - mkt.m AS e
            FROM x JOIN mkt ON x.date = mkt.date),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(e) AS BIGINT) AS s,
                   sum(CAST(e AS HUGEINT) * e) AS q
            FROM e GROUP BY 1)
          SELECT user_id, n AS n_days,
                 CAST(CASE WHEN s < 0
                      THEN -((abs(s) * 2 + n) // (2 * n))
                      ELSE (s * 2 + n) // (2 * n) END AS DOUBLE)
                   / 10000 AS mean_excess,
                 round((CAST(s AS DOUBLE) / n)
                   / nullif(sqrt(CAST(CAST(n AS HUGEINT) * q
                       - CAST(s AS HUGEINT) * s AS DOUBLE)
                     / (CAST(n AS DOUBLE)
                        * (CAST(n AS DOUBLE) - 1))), 0)
                   * sqrt(252.0), 4) AS ir_annualized
          FROM g WHERE n >= 20 ORDER BY 1"""),

    // q327: conditional shares at fixed scaled thresholds
    "q327_tail_probs" -> (STAGED +
      """, x AS (
            SELECT user_id,
                   CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x
            FROM staged WHERE pct_change IS NOT NULL),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN x <= -50000 THEN 1 ELSE 0 END)
                     AS BIGINT) AS c_m5,
                   CAST(sum(CASE WHEN x <= -10000 THEN 1 ELSE 0 END)
                     AS BIGINT) AS c_m1,
                   CAST(sum(CASE WHEN x <= 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS c_0,
                   CAST(sum(CASE WHEN x <= 10000 THEN 1 ELSE 0 END)
                     AS BIGINT) AS c_p1
            FROM x GROUP BY 1)
          SELECT user_id, n AS n_days,
                 CAST((c_m5 * 20000 + n) // (2 * n) AS DOUBLE) / 10000
                   AS p_le_m5,
                 CAST((c_m1 * 20000 + n) // (2 * n) AS DOUBLE) / 10000
                   AS p_le_m1,
                 CAST((c_0 * 20000 + n) // (2 * n) AS DOUBLE) / 10000
                   AS p_le_0,
                 CAST((c_p1 * 20000 + n) // (2 * n) AS DOUBLE) / 10000
                   AS p_le_p1
          FROM g WHERE n >= 20 ORDER BY 1"""),

    // q328: exact integer first-trigger; signed-bridge percent
    // returns
    "q328_stop_loss" -> (BARS +
      """, c AS (
            SELECT user_id, date,
                   CAST(CAST(close AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS c4,
                   row_number() OVER w AS rn,
                   first_value(CAST(CAST(close AS DECIMAL(14,4))
                     * 10000 AS BIGINT)) OVER w AS e4
            FROM bars
            WINDOW w AS (PARTITION BY user_id ORDER BY date
                         ROWS UNBOUNDED PRECEDING)),
          trig AS (
            SELECT user_id, min(struct_pack(r := rn, xc := c4)).xc
                     AS exit4
            FROM c WHERE rn > 1 AND c4 * 100 < e4 * 95
            GROUP BY 1),
          ends AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
                   max(struct_pack(rn := rn, c4 := c4)).c4 AS final4,
                   min(struct_pack(rn := rn, c4 := c4, e4 := e4)).e4
                     AS entry4
            FROM c GROUP BY 1)
          SELECT e.user_id, n_days,
                 CAST(CASE WHEN t.exit4 IS NOT NULL
                   THEN 1 ELSE 0 END AS BIGINT) AS stopped_out,
                 CAST(CASE WHEN (coalesce(t.exit4, final4) - entry4)
                        * 100 < 0
                      THEN -((abs((coalesce(t.exit4, final4)
                              - entry4) * 100) * 20000 + entry4)
                             // (2 * entry4))
                      ELSE ((coalesce(t.exit4, final4) - entry4)
                            * 100 * 20000 + entry4) // (2 * entry4)
                      END AS DOUBLE) / 10000 AS rule_return_pct,
                 CAST(CASE WHEN (final4 - entry4) * 100 < 0
                      THEN -((abs((final4 - entry4) * 100) * 20000
                              + entry4) // (2 * entry4))
                      ELSE ((final4 - entry4) * 100 * 20000 + entry4)
                           // (2 * entry4) END AS DOUBLE) / 10000
                   AS hold_return_pct
          FROM ends e LEFT JOIN trig t ON e.user_id = t.user_id
          WHERE entry4 > 0 ORDER BY 1"""),

    // q326: exact HUGEINT gap moments, bridge mean, one sqrt
    "q326_interarrival_cv" ->
      """WITH g0 AS (
           SELECT user_id,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                    AS gap
           FROM events),
         g AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(gap) AS BIGINT) AS s,
                  sum(CAST(gap AS HUGEINT) * gap) AS q
           FROM g0 WHERE gap IS NOT NULL GROUP BY 1)
         SELECT user_id, n AS n_gaps,
                CAST((s * 2 + n * 100) // (2 * n * 100) AS DOUBLE)
                  / 10000 AS mean_gap_secs,
                round(sqrt(CAST(CAST(n AS HUGEINT) * q
                        - CAST(s AS HUGEINT) * s AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
                  / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 4) AS cv
         FROM g WHERE n >= 10 AND s > 0 ORDER BY 1""",

    // q318: minute-bucket counts, exact burst ratio
    "q318_burst_minutes" ->
      """WITH pm AS (
           SELECT user_id, epoch_us(ts) // 60000000 AS minute,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         g AS (
           SELECT user_id,
                  CAST(count(*) AS BIGINT) AS n_active_minutes,
                  CAST(sum(c) AS BIGINT) AS n_events,
                  CAST(max(c) AS BIGINT) AS peak_minute_events
           FROM pm GROUP BY 1)
         SELECT user_id, n_active_minutes, n_events,
                peak_minute_events,
                CAST((peak_minute_events * n_active_minutes * 10000
                      * 2 + n_events) // (2 * n_events) AS DOUBLE)
                  / 10000 AS burst_ratio
         FROM g ORDER BY 1""",

    // q314: the same two struct-min window passes — earliest next
    // view carries ITS next purchase
    "q314_window_funnel" ->
      """WITH base AS (
           SELECT user_id, event_id, epoch_us(ts) AS us,
                  event_type AS t
           FROM events),
         wp AS (
           SELECT *, min(CASE WHEN t = 'purchase' THEN us END)
                  OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN 1 FOLLOWING
                        AND UNBOUNDED FOLLOWING) AS np
           FROM base),
         wv AS (
           SELECT *, min(CASE WHEN t = 'view'
                    THEN struct_pack(vts := us,
                      pts := coalesce(np, 9223372036854775807)) END)
                  OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN 1 FOLLOWING
                        AND UNBOUNDED FOLLOWING) AS vs
           FROM wp),
         lvl AS (
           SELECT user_id,
                  CASE WHEN vs IS NOT NULL
                         AND vs.vts <= us + 21600000000
                  THEN CASE WHEN vs.pts <= us + 21600000000
                       THEN 3 ELSE 2 END
                  ELSE 1 END AS level
           FROM wv WHERE t = 'click'),
         g AS (
           SELECT user_id, CAST(max(level) AS BIGINT)
                    AS funnel_level
           FROM lvl GROUP BY 1)
         SELECT funnel_level, CAST(count(*) AS BIGINT) AS n_users
         FROM g GROUP BY 1 ORDER BY 1""",

    // q308: bridge-exact market mean per date; ln(1+r) terms rounded
    // to 10dp decimals before the running sum
    "q308_market_index" -> (STAGED +
      """, x AS (
            SELECT user_id, date,
                   CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x
            FROM staged WHERE pct_change IS NOT NULL),
          mkt AS (
            SELECT date, nm,
                   CASE WHEN sm < 0
                   THEN -((abs(sm) * 2 + nm) // (2 * nm))
                   ELSE (abs(sm) * 2 + nm) // (2 * nm) END AS m4
            FROM (SELECT date, CAST(count(*) AS BIGINT) AS nm,
                         CAST(sum(x) AS BIGINT) AS sm
                  FROM x GROUP BY 1) t),
          lr AS (
            SELECT date, nm,
                   least(greatest(m4, -100000), 100000) AS m4,
                   CAST(round(ln(1.0 + CAST(least(greatest(m4,
                     -100000), 100000) AS DOUBLE) / 1000000), 10)
                     AS DECIMAL(38,10)) AS lr
            FROM mkt),
          c AS (
            SELECT date, nm, m4,
                   CAST(sum(lr) OVER (ORDER BY date
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
            FROM lr)
          SELECT strftime(date, '%Y-%m-%d') AS date, nm,
                 CAST(m4 AS DOUBLE) / 10000 AS mkt_ret,
                 round(100.0 * exp(cum), 4) AS index_level
          FROM c ORDER BY 1"""),

    // q309: +1/−1 sweep, ends before starts at the same instant,
    // per-day max of the running level
    "q309_peak_concurrency" -> (SESSIONS_CTE + """
         , pts AS (
            SELECT start_us AS us, CAST(1 AS BIGINT) AS delta
            FROM sess
            UNION ALL
            SELECT end_us + 1, CAST(-1 AS BIGINT) FROM sess),
          sw AS (
            SELECT us, delta,
                   CAST(sum(delta) OVER (ORDER BY us ASC, delta ASC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
            FROM pts)
          SELECT strftime(CAST(make_timestamp(us) AS DATE),
                   '%Y-%m-%d') AS date,
                 CAST(max(cc) AS BIGINT) AS peak_concurrent
          FROM sw WHERE delta = 1
          GROUP BY 1 ORDER BY 1"""),

    // q306: psi-style clamped equal-width bins on both axes
    "q306_hist2d" -> (BARS +
      """, ext AS (
            SELECT min(close) AS cmin, max(close) AS cmax,
                   min(CAST(volume AS DOUBLE)) AS vmin,
                   max(CAST(volume AS DOUBLE)) AS vmax
            FROM bars),
          g AS (
            SELECT CASE WHEN cmax = cmin THEN 0
                   ELSE CAST(least(greatest(floor(((close - cmin) * 8)
                     / (cmax - cmin)), 0), 7) AS BIGINT) END AS bin_x,
                   CASE WHEN vmax = vmin THEN 0
                   ELSE CAST(least(greatest(floor(((CAST(volume
                     AS DOUBLE) - vmin) * 8) / (vmax - vmin)), 0), 7)
                     AS BIGINT) END AS bin_y
            FROM bars, ext),
          c AS (
            SELECT bin_x, bin_y, CAST(count(*) AS BIGINT) AS n
            FROM g GROUP BY 1, 2),
          w AS (
            SELECT *, CAST(sum(n) OVER () AS BIGINT) AS t FROM c)
          SELECT bin_x, bin_y, n,
                 CAST((n * 20000 + t) // (2 * t) AS DOUBLE) / 10000
                   AS share
          FROM w ORDER BY 1, 2"""),

    // q297: idle days vs the corpus as-of date, exact rates
    "q297_churn_sensitivity" ->
      """WITH ext AS (SELECT max(CAST(ts AS DATE)) AS as_of FROM events),
         idle AS (
           SELECT CAST(date_diff('day', max(CAST(ts AS DATE)), as_of)
             AS BIGINT) AS idle
           FROM events, ext GROUP BY user_id, as_of),
         g AS (
           SELECT CAST(count(*) AS BIGINT) AS n_users,
                  CAST(sum(CASE WHEN idle >= 7 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c7,
                  CAST(sum(CASE WHEN idle >= 14 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c14,
                  CAST(sum(CASE WHEN idle >= 28 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c28
           FROM idle)
         SELECT CAST(7 AS BIGINT) AS threshold_days, n_users,
                c7 AS n_churned,
                CAST((c7 * 20000 + n_users) // (2 * n_users)
                  AS DOUBLE) / 10000 AS churn_rate
         FROM g
         UNION ALL
         SELECT CAST(14 AS BIGINT), n_users, c14,
                CAST((c14 * 20000 + n_users) // (2 * n_users)
                  AS DOUBLE) / 10000
         FROM g
         UNION ALL
         SELECT CAST(28 AS BIGINT), n_users, c28,
                CAST((c28 * 20000 + n_users) // (2 * n_users)
                  AS DOUBLE) / 10000
         FROM g ORDER BY 1""",

    // q298: per-date rank window, exact top-10 share
    "q298_whale_share" ->
      """WITH cnt AS (
           SELECT CAST(ts AS DATE) AS d, user_id,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         rk AS (
           SELECT d, c, row_number() OVER (PARTITION BY d
             ORDER BY c DESC, user_id ASC) AS rn
           FROM cnt),
         g AS (
           SELECT d, CAST(count(*) AS BIGINT) AS n_users,
                  CAST(sum(c) AS BIGINT) AS n_events,
                  CAST(sum(CASE WHEN rn <= 10 THEN c ELSE 0 END)
                    AS BIGINT) AS top_events
           FROM rk GROUP BY 1)
         SELECT strftime(d, '%Y-%m-%d') AS date, n_users, n_events,
                CAST((top_events * 20000 + n_events) // (2 * n_events)
                  AS DOUBLE) / 10000 AS whale_share
         FROM g ORDER BY 1""",

    // q294: one lag pass per user over distinct activity dates
    "q294_calendar_gaps" ->
      """WITH days AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
           FROM events),
         g AS (
           SELECT user_id, d,
                  CAST(date_diff('day',
                    lag(d) OVER (PARTITION BY user_id ORDER BY d), d)
                    - 1 AS BIGINT) AS gap
           FROM days),
         a AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS active_days,
                  CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT)
                    AS span_days,
                  CAST(coalesce(sum(gap), 0) AS BIGINT)
                    AS missing_days,
                  CAST(coalesce(max(gap), 0) AS BIGINT)
                    AS longest_gap
           FROM g GROUP BY 1)
         SELECT user_id, active_days, span_days, missing_days,
                longest_gap,
                CAST((active_days * 20000 + span_days)
                     // (2 * span_days) AS DOUBLE) / 10000 AS coverage
         FROM a ORDER BY 1""",

    // q295: exact median-date split; total-ordered ntile per half;
    // 0 = absent from that half
    "q295_decile_migration" ->
      """WITH ext AS (
           SELECT min(CAST(ts AS DATE)) AS lo,
                  max(CAST(ts AS DATE)) AS hi
           FROM events),
         tagged AS (
           SELECT user_id,
                  CASE WHEN date_diff('day', lo, CAST(ts AS DATE)) * 2
                         <= date_diff('day', lo, hi)
                  THEN 'a' ELSE 'b' END AS half
           FROM events, ext),
         cnt AS (
           SELECT user_id, half, CAST(count(*) AS BIGINT) AS c
           FROM tagged GROUP BY 1, 2),
         da AS (
           SELECT user_id, CAST(ntile(10) OVER (ORDER BY c DESC,
             user_id ASC) AS BIGINT) AS dec_a
           FROM cnt WHERE half = 'a'),
         db AS (
           SELECT user_id, CAST(ntile(10) OVER (ORDER BY c DESC,
             user_id ASC) AS BIGINT) AS dec_b
           FROM cnt WHERE half = 'b')
         SELECT coalesce(dec_a, 0) AS decile_first,
                coalesce(dec_b, 0) AS decile_second,
                CAST(count(*) AS BIGINT) AS n_users
         FROM da FULL OUTER JOIN db USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // q291: |error| on 4dp scaled longs; MASE folds the counts into
    // one integer bridge
    "q291_forecast_error" -> (BARS +
      """, c AS (
            SELECT user_id, date,
                   CAST(CAST(close AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS c
            FROM bars),
          e AS (
            SELECT user_id,
                   abs(c - lag(c, 1) OVER w) AS e1,
                   abs(c - lag(c, 7) OVER w) AS es
            FROM c WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          g AS (
            SELECT user_id, CAST(count(e1) AS BIGINT) AS n1,
                   CAST(sum(e1) AS BIGINT) AS s1,
                   CAST(count(es) AS BIGINT) AS ns,
                   CAST(sum(es) AS BIGINT) AS ss
            FROM e GROUP BY 1)
          SELECT user_id, n1 AS n_naive, ns AS n_seasonal,
                 CAST((s1 * 20000 + n1 * 10000) // (2 * n1 * 10000)
                   AS DOUBLE) / 10000 AS mae_naive,
                 CAST((ss * 20000 + ns * 10000) // (2 * ns * 10000)
                   AS DOUBLE) / 10000 AS mae_seasonal,
                 CAST((ss * n1 * 20000 + ns * s1) // (2 * ns * s1)
                   AS DOUBLE) / 10000 AS mase
          FROM g WHERE n1 >= 20 AND ns >= 20 AND s1 > 0
          ORDER BY 1"""),

    // q292: per-key frequency table folded to one summary row — the
    // decide-before-you-join skew diagnostic
    "q292_key_skew" ->
      """WITH oc AS (
           SELECT CAST(o_custkey AS BIGINT) AS k,
                  CAST(count(*) AS BIGINT) AS c
           FROM orders GROUP BY 1),
         orr AS (
           SELECT *, row_number() OVER (ORDER BY c ASC, k ASC) AS rn,
                  count(*) OVER () AS n
           FROM oc),
         og AS (
           SELECT 'orders.o_custkey' AS key_label,
                  CAST(count(*) AS BIGINT) AS n_keys,
                  CAST(sum(c) AS BIGINT) AS n_rows,
                  max(struct_pack(c := c, k := k)) AS hot,
                  CAST(max(CASE WHEN rn = (n * 99 + 99) // 100
                    THEN c END) AS BIGINT) AS p99_freq
           FROM orr),
         lc AS (
           SELECT CAST(l_partkey AS BIGINT) AS k,
                  CAST(count(*) AS BIGINT) AS c
           FROM lineitem GROUP BY 1),
         lr AS (
           SELECT *, row_number() OVER (ORDER BY c ASC, k ASC) AS rn,
                  count(*) OVER () AS n
           FROM lc),
         lg AS (
           SELECT 'lineitem.l_partkey' AS key_label,
                  CAST(count(*) AS BIGINT) AS n_keys,
                  CAST(sum(c) AS BIGINT) AS n_rows,
                  max(struct_pack(c := c, k := k)) AS hot,
                  CAST(max(CASE WHEN rn = (n * 99 + 99) // 100
                    THEN c END) AS BIGINT) AS p99_freq
           FROM lr),
         u AS (SELECT * FROM og UNION ALL SELECT * FROM lg)
         SELECT key_label, n_keys, n_rows, hot.k AS hottest_key,
                hot.c AS hottest_count, p99_freq,
                CAST((hot.c * n_keys * 20000 + n_rows)
                     // (2 * n_rows) AS DOUBLE) / 10000
                  AS skew_factor
         FROM u ORDER BY 1""",

    // q289: bridge-rounded market mean per date, split at its own
    // discrete median; counts cancel in the capture ratios
    "q289_capture_ratio" -> (STAGED +
      """, x AS (
            SELECT user_id, date,
                   CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x
            FROM staged WHERE pct_change IS NOT NULL),
          mkt0 AS (
            SELECT date,
                   CASE WHEN sm < 0
                   THEN -((abs(sm) * 2 + nm) // (2 * nm))
                   ELSE (abs(sm) * 2 + nm) // (2 * nm) END AS m4
            FROM (SELECT date, CAST(count(*) AS BIGINT) AS nm,
                         CAST(sum(x) AS BIGINT) AS sm
                  FROM x GROUP BY 1) t),
          mr AS (
            SELECT date, m4,
                   row_number() OVER (ORDER BY m4 ASC, date ASC)
                     AS rn,
                   count(*) OVER () AS n
            FROM mkt0),
          mkt AS (
            SELECT date, m4,
                   max(CASE WHEN rn = (n + 1) // 2 THEN m4 END)
                     OVER () AS med
            FROM mr),
          j AS (
            SELECT user_id, x.x, mkt.m4, mkt.med
            FROM x JOIN mkt ON x.date = mkt.date
            WHERE mkt.m4 <> mkt.med),
          g AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN m4 > med THEN 1 ELSE 0 END)
                     AS BIGINT) AS nu,
                   CAST(sum(CASE WHEN m4 > med THEN x ELSE 0 END)
                     AS BIGINT) AS su,
                   CAST(sum(CASE WHEN m4 > med THEN m4 ELSE 0 END)
                     AS BIGINT) AS mu,
                   CAST(sum(CASE WHEN m4 < med THEN 1 ELSE 0 END)
                     AS BIGINT) AS nd,
                   CAST(sum(CASE WHEN m4 < med THEN x ELSE 0 END)
                     AS BIGINT) AS sd,
                   CAST(sum(CASE WHEN m4 < med THEN m4 ELSE 0 END)
                     AS BIGINT) AS md
            FROM j GROUP BY 1)
          SELECT user_id, nu AS n_strong_days, nd AS n_weak_days,
                 round(CAST(su AS DOUBLE)
                       / nullif(CAST(mu AS DOUBLE), 0), 4)
                   AS strong_capture,
                 round(CAST(sd AS DOUBLE)
                       / nullif(CAST(md AS DOUBLE), 0), 4)
                   AS weak_capture
          FROM g WHERE nu >= 5 AND nd >= 5 ORDER BY 1"""),

    // q286: gaps-and-islands on the zero-change flag (island id =
    // running non-stale count)
    "q286_price_staleness" -> (STAGED +
      """, src AS (
            SELECT user_id, date,
                   CASE WHEN CAST(CAST(price_change AS DECIMAL(14,4))
                          * 10000 AS BIGINT) = 0
                   THEN 1 ELSE 0 END AS st
            FROM staged WHERE price_change IS NOT NULL),
          isl AS (
            SELECT user_id, st,
                   CAST(sum(1 - st) OVER (PARTITION BY user_id
                     ORDER BY date ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS isl
            FROM src),
          runs AS (
            SELECT user_id, CAST(max(run) AS BIGINT) AS max_stale_run
            FROM (SELECT user_id, isl, count(*) AS run
                  FROM isl WHERE st = 1 GROUP BY 1, 2) t
            GROUP BY 1),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(st) AS BIGINT) AS n_stale
            FROM src GROUP BY 1)
          SELECT g.user_id, n_days, n_stale,
                 coalesce(max_stale_run, 0) AS max_stale_run,
                 CAST((n_stale * 20000 + n_days) // (2 * n_days)
                   AS DOUBLE) / 10000 AS stale_share
          FROM g LEFT JOIN runs ON g.user_id = runs.user_id
          WHERE n_days >= 5 ORDER BY 1"""),

    // q278: unbounded struct-max window — peak value then most recent
    // peak date; integer day arithmetic
    "q278_time_underwater" -> (BARS +
      """, c AS (
            SELECT user_id, date,
                   CAST(CAST(close AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS c4
            FROM bars),
          p AS (
            SELECT user_id, date, c4,
                   max(struct_pack(c := c4, d := date)) OVER (
                     PARTITION BY user_id ORDER BY date
                     ROWS UNBOUNDED PRECEDING) AS pk
            FROM c)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 CAST(pk.c AS DOUBLE) / 10000 AS peak_close,
                 strftime(pk.d, '%Y-%m-%d') AS peak_date,
                 CAST(CASE WHEN c4 < pk.c THEN 1 ELSE 0 END AS BIGINT)
                   AS underwater,
                 CAST(date_diff('day', pk.d, date) AS BIGINT)
                   AS days_underwater
          FROM p ORDER BY 1, 2"""),

    // q279: integer mod on 4dp cents, exact shares
    "q279_round_bias" -> (BARS +
      """, c AS (
            SELECT user_id,
                   CAST(CAST(close AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS c4
            FROM bars),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(CASE WHEN c4 % 10000 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_whole,
                   CAST(sum(CASE WHEN c4 % 5000 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_half
            FROM c GROUP BY 1)
          SELECT user_id, n_days, n_whole, n_half,
                 CAST((n_whole * 20000 + n_days) // (2 * n_days)
                   AS DOUBLE) / 10000 AS whole_share,
                 CAST((n_half * 20000 + n_days) // (2 * n_days)
                   AS DOUBLE) / 10000 AS half_share
          FROM g WHERE n_days >= 5 ORDER BY 1"""),

    // q272: date-pair self-join bounded per key; integer C/D/tie
    // counts, one final sqrt
    "q272_kendall_tau" -> (BARS +
      """, st AS (
            SELECT user_id, date, volume,
                   round((close - lag(close) OVER w)
                         / nullif(lag(close) OVER w, 0) * 100, 4)
                     AS pct_change
            FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          src AS (
            SELECT user_id, date, CAST(volume AS BIGINT) AS x,
                   CAST(CAST(abs(pct_change) AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS y
            FROM st WHERE pct_change IS NOT NULL),
          pr AS (
            SELECT a.user_id,
                   CASE WHEN a.x < b.x THEN -1
                        WHEN a.x > b.x THEN 1 ELSE 0 END AS sx,
                   CASE WHEN a.y < b.y THEN -1
                        WHEN a.y > b.y THEN 1 ELSE 0 END AS sy
            FROM src a JOIN src b ON a.user_id = b.user_id
              AND a.date < b.date),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS c,
                   CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS dd,
                   CAST(sum(CASE WHEN sx = 0 AND sy <> 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                   CAST(sum(CASE WHEN sy = 0 AND sx <> 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS ty,
                   CAST(sum(CASE WHEN sx = 0 AND sy = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS txy
            FROM pr GROUP BY 1)
          SELECT user_id, n0 AS n_pairs, c, dd AS d,
                 round(CAST(c - dd AS DOUBLE)
                       / nullif(sqrt(CAST(n0 - tx - txy AS DOUBLE)
                           * CAST(n0 - ty - txy AS DOUBLE)), 0), 4)
                   AS tau_b
          FROM g WHERE n0 >= 190 ORDER BY 1"""),

    // q273: exact scaled group moments; Σ s_g²/n_g terms 6dp-decimal
    // rounded before the order-free sum
    "q273_dow_anova" -> (STAGED +
      """, x AS (
            SELECT user_id,
                   CAST((dayofweek(date) + 6) % 7 AS BIGINT) AS g,
                   CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x
            FROM staged WHERE pct_change IS NOT NULL),
          per AS (
            SELECT user_id, g, CAST(count(*) AS BIGINT) AS ng,
                   CAST(sum(x) AS BIGINT) AS sg,
                   sum(CAST(x AS HUGEINT) * x) AS qg
            FROM x GROUP BY 1, 2),
          tot AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(ng) AS BIGINT) AS n,
                   CAST(sum(sg) AS BIGINT) AS s,
                   CAST(sum(qg) AS DOUBLE) AS q,
                   CAST(sum(CAST(round(CAST(sg AS DOUBLE) * sg / ng,
                     6) AS DECIMAL(38,6))) AS DOUBLE) AS sb
            FROM per GROUP BY 1
            HAVING sum(ng) >= 20 AND count(*) > 1),
          f AS (
            SELECT user_id, n, k,
                   (sb - CAST(s AS DOUBLE) * s / CAST(n AS DOUBLE))
                     / CAST(k - 1 AS DOUBLE)
                   / nullif((q - sb) / CAST(n - k AS DOUBLE), 0)
                     AS fv
            FROM tot)
          SELECT user_id, n AS n_days, k AS n_groups,
                 round(fv, 4) AS f_stat
          FROM f ORDER BY 1"""),

    // q274: lag-flag window, integer adjacency counts, bridge expected
    "q274_extreme_clustering" -> (STAGED +
      """, e AS (
            SELECT user_id, date,
                   CASE WHEN abs(CAST(CAST(pct_change AS DECIMAL(14,4))
                     * 10000 AS BIGINT)) > 50000
                   THEN 1 ELSE 0 END AS e
            FROM staged WHERE pct_change IS NOT NULL),
          p AS (
            SELECT user_id, e,
                   lag(e) OVER (PARTITION BY user_id ORDER BY date)
                     AS pe
            FROM e),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(e) AS BIGINT) AS n_ext,
                   CAST(sum(CASE WHEN e = 1 AND pe = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_adj
            FROM p GROUP BY 1)
          SELECT user_id, n AS n_days, n_ext, n_adj,
                 CAST((n_ext * n_ext * (n - 1) * 10000 * 2 + n * n)
                      // (2 * n * n) AS DOUBLE) / 10000
                   AS expected_adj
          FROM g WHERE n_ext >= 3 AND n > 1 ORDER BY 1"""),

    // q271: total order (return desc, key asc) → bridge-exact
    // percent rank / cume dist
    "q271_cross_rank" -> (STAGED +
      """, x AS (
            SELECT user_id, date, pct_change
            FROM staged WHERE pct_change IS NOT NULL),
          rk AS (
            SELECT user_id, date, pct_change,
                   CAST(row_number() OVER (PARTITION BY date
                     ORDER BY pct_change DESC, user_id ASC)
                     AS BIGINT) AS rnk,
                   CAST(count(*) OVER (PARTITION BY date) AS BIGINT)
                     AS n
            FROM x)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 pct_change, rnk, n AS n_cross,
                 CAST(((rnk - 1) * 2000000 + (n - 1))
                      // (2 * (n - 1)) AS DOUBLE) / 1000000
                   AS pct_rank,
                 CAST((rnk * 2000000 + n) // (2 * n) AS DOUBLE)
                   / 1000000 AS cume_dist
          FROM rk WHERE n > 1 ORDER BY 2, 4"""),

    // q266: per-lag Pearson (the q153 corr), each term 10dp-decimal
    // rounded before the order-free sum
    "q266_ljung_box" -> (STAGED +
      """, r AS (
            SELECT user_id, date, pct_change AS ret
            FROM staged WHERE pct_change IS NOT NULL),
          wl AS (
            SELECT user_id, ret,
                   lag(ret, 1) OVER w AS l1, lag(ret, 2) OVER w AS l2,
                   lag(ret, 3) OVER w AS l3, lag(ret, 4) OVER w AS l4,
                   lag(ret, 5) OVER w AS l5
            FROM r WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          pairs AS (
            SELECT user_id, 1 AS lag, ret, l1 AS lret FROM wl
            WHERE l1 IS NOT NULL
            UNION ALL SELECT user_id, 2, ret, l2 FROM wl
            WHERE l2 IS NOT NULL
            UNION ALL SELECT user_id, 3, ret, l3 FROM wl
            WHERE l3 IS NOT NULL
            UNION ALL SELECT user_id, 4, ret, l4 FROM wl
            WHERE l4 IS NOT NULL
            UNION ALL SELECT user_id, 5, ret, l5 FROM wl
            WHERE l5 IS NOT NULL),
          pl AS (
            SELECT user_id, lag, corr(ret, lret) AS rho
            FROM pairs GROUP BY 1, 2),
          np AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n
            FROM r GROUP BY 1),
          t AS (
            SELECT pl.user_id, np.n,
                   CAST(round(rho * rho / CAST(n - lag AS DOUBLE), 10)
                     AS DECIMAL(38,10)) AS t
            FROM pl JOIN np USING (user_id) WHERE n >= 20),
          g AS (
            SELECT user_id, n, CAST(sum(t) AS DOUBLE) AS s
            FROM t GROUP BY 1, 2)
          SELECT user_id, n AS n_days,
                 round(CAST(n AS DOUBLE) * (n + 2) * s, 4) AS q_stat
          FROM g ORDER BY 1"""),

    // q267: OLS of Δc on lagged c in exact scaled moments; ln only in
    // the final half-life
    "q267_mean_reversion" -> (STAGED +
      """, c4 AS (
            SELECT user_id, date,
                   CAST(CAST(close AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS c
            FROM staged),
          p AS (
            SELECT user_id, c,
                   lag(c) OVER (PARTITION BY user_id ORDER BY date)
                     AS x
            FROM c4),
          s AS (
            SELECT user_id, x, c - x AS y FROM p WHERE x IS NOT NULL),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx
            FROM s GROUP BY 1 HAVING count(*) >= 20),
          f AS (
            SELECT user_id, n,
                   CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / nullif(CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                         AS DOUBLE), 0) AS beta
            FROM g)
          SELECT user_id, n AS n_days, round(beta, 6) AS beta,
                 round(CASE WHEN beta > -1 AND beta < 0
                       THEN -ln(2.0) / ln(1.0 + beta) END, 4)
                   AS half_life_days
          FROM f ORDER BY 1"""),

    // q268: per-type c·ln c rounds to a 6dp decimal before the sum
    "q268_activity_entropy" ->
      """WITH cnt AS (
           SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         g AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n_types,
                  CAST(sum(c) AS BIGINT) AS n,
                  CAST(sum(CAST(round(CAST(c AS DOUBLE)
                    * ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS sclc
           FROM cnt GROUP BY 1)
         SELECT user_id, n_types, n,
                round(ln(CAST(n AS DOUBLE)) - sclc / n, 4)
                  AS entropy_nats,
                round((ln(CAST(n AS DOUBLE)) - sclc / n)
                      / nullif(ln(CAST(n_types AS DOUBLE)), 0.0), 4)
                  AS evenness
         FROM g ORDER BY 1""",

    // q262: first-seen hash agg, cumulative over the bounded date
    // frame, exact shares
    "q262_adoption_curve" ->
      """WITH f AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS d
           FROM events GROUP BY 1),
         daily AS (
           SELECT d, CAST(count(*) AS BIGINT) AS n_new
           FROM f GROUP BY 1),
         c AS (
           SELECT d, n_new,
                  CAST(sum(n_new) OVER (ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
                  CAST(sum(n_new) OVER () AS BIGINT) AS t
           FROM daily)
         SELECT strftime(d, '%Y-%m-%d') AS date, n_new, cum_users,
                CAST((cum_users * 20000 + t) // (2 * t) AS DOUBLE)
                  / 10000 AS penetration
         FROM c ORDER BY 1""",

    // q263: sessionize (the q62 break rule), distinct (session, type),
    // pair join bounded by the per-session type set
    "q263_session_lift" ->
      """WITH l AS (
           SELECT user_id, event_id, ts, event_type,
                  lag(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev
           FROM events),
         b AS (
           SELECT *, CASE WHEN prev IS NULL
               OR epoch_us(ts) - epoch_us(prev) > 1800000000
             THEN 1 ELSE 0 END AS brk
           FROM l),
         s AS (
           SELECT user_id, event_type,
                  CAST(sum(brk) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS sid
           FROM b),
         st AS (SELECT DISTINCT user_id, sid, event_type FROM s),
         ns AS (
           SELECT CAST(count(*) AS BIGINT) AS n_sessions
           FROM (SELECT DISTINCT user_id, sid FROM st)),
         pt AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
           FROM st GROUP BY 1),
         pr AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  CAST(count(*) AS BIGINT) AS n_ab
           FROM st a JOIN st b ON a.user_id = b.user_id
             AND a.sid = b.sid AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, n_ab, pa.n_t AS n_a, pb.n_t AS n_b,
                CAST((n_ab * 20000 + n_sessions) // (2 * n_sessions)
                  AS DOUBLE) / 10000 AS support,
                CAST((n_ab * 20000 + pa.n_t) // (2 * pa.n_t)
                  AS DOUBLE) / 10000 AS confidence,
                CAST((n_ab * n_sessions * 20000 + pa.n_t * pb.n_t)
                     // (2 * pa.n_t * pb.n_t) AS DOUBLE) / 10000
                  AS lift
         FROM pr JOIN pt pa ON pa.event_type = pr.type_a
              JOIN pt pb ON pb.event_type = pr.type_b
              CROSS JOIN ns
         ORDER BY 1, 2""",

    // q264: rank ⌈n·5/100⌉ order statistic; tail mean via signed
    // bridge
    "q264_var_es" -> (STAGED +
      """, x AS (
            SELECT user_id, date,
                   CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x
            FROM staged WHERE pct_change IS NOT NULL),
          rk AS (
            SELECT user_id, x,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY x ASC, date ASC) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM x),
          g AS (
            SELECT user_id, CAST(max(n) AS BIGINT) AS n_days,
                   CAST(max((n * 5 + 99) // 100) AS BIGINT) AS k,
                   max(CASE WHEN rn = (n * 5 + 99) // 100 THEN x END)
                     AS v4,
                   CAST(sum(CASE WHEN rn <= (n * 5 + 99) // 100
                     THEN x ELSE 0 END) AS BIGINT) AS t4
            FROM rk GROUP BY 1)
          SELECT user_id, n_days,
                 CAST(v4 AS DOUBLE) / 10000 AS var_pct,
                 CAST(CASE WHEN t4 < 0
                      THEN -((abs(t4) * 2 + k) // (2 * k))
                      ELSE (t4 * 2 + k) // (2 * k) END AS DOUBLE)
                   / 10000 AS es_pct
          FROM g WHERE n_days >= 20 ORDER BY 1"""),

    // q265: exact HUGEINT raw moments over ±100%-winsorized returns
    // (quartics of near-zero-close spikes overflow 128-bit), one
    // deterministic double chain (shape-matched term by term)
    "q265_skew_kurtosis" -> (STAGED +
      """, x AS (
            SELECT user_id,
                   least(greatest(CAST(CAST(pct_change
                     AS DECIMAL(14,4)) * 10000 AS BIGINT),
                     -1000000), 1000000) AS x
            FROM staged WHERE pct_change IS NOT NULL),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s1,
                   sum(CAST(x AS HUGEINT) * x) AS s2,
                   sum(CAST(x AS HUGEINT) * x * x) AS s3,
                   sum(CAST(x AS HUGEINT) * x * x * x) AS s4
            FROM x GROUP BY 1 HAVING count(*) >= 10),
          f AS (
            SELECT user_id, n,
                   CAST(s1 AS DOUBLE) / n AS mu,
                   CAST(s2 AS DOUBLE) / n AS r2,
                   CAST(s3 AS DOUBLE) / n AS r3,
                   CAST(s4 AS DOUBLE) / n AS r4
            FROM g),
          m AS (
            SELECT user_id, n, mu,
                   r2 - mu * mu AS m2,
                   r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
                   r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                     - 3.0 * mu * mu * mu * mu AS m4
            FROM f)
          SELECT user_id, n AS n_days,
                 round(m3 / sqrt(m2 * m2 * m2), 4) AS skewness,
                 round(m4 / (m2 * m2) - 3.0, 4) AS excess_kurtosis
          FROM m ORDER BY 1"""),

    // q260: integer epoch-day RANGE frame; 4dp scaled-long frame mean
    "q260_range_window" -> (BARS +
      """, e AS (
            SELECT user_id, date, close,
                   CAST(date_diff('day', DATE '1970-01-01', date)
                     AS BIGINT) AS epd,
                   CAST(CAST(close AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS c4
            FROM bars),
          wn AS (
            SELECT user_id, date, close,
                   CAST(count(*) OVER f AS BIGINT) AS n,
                   CAST(sum(c4) OVER f AS BIGINT) AS s4
            FROM e
            WINDOW f AS (PARTITION BY user_id ORDER BY epd
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
                 n AS n_in_window,
                 CAST((s4 * 2 + n) // (2 * n) AS DOUBLE) / 10000
                   AS cal_mean
          FROM wn ORDER BY 1, 2"""),

    // q261: order statistic at rank ceil(p·n) — no interpolation
    "q261_session_stats" -> (SESSIONS_CTE + """
         , dur AS (
            SELECT user_id, session_id,
                   CAST((end_us - start_us) // 1000000 AS BIGINT) AS d
            FROM sess),
          rk AS (
            SELECT user_id, d,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY d ASC, session_id ASC) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM dur),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
                   CAST(sum(d) AS BIGINT) AS sd,
                   max(CASE WHEN rn = (n + 1) // 2 THEN d END)
                     AS p50_secs,
                   max(CASE WHEN rn = (n * 9 + 9) // 10 THEN d END)
                     AS p90_secs,
                   CAST(max(d) AS BIGINT) AS max_secs
            FROM rk GROUP BY 1)
          SELECT user_id, n_sessions,
                 CAST((sd * 20000 + n_sessions) // (2 * n_sessions)
                   AS DOUBLE) / 10000 AS mean_secs,
                 CAST(p50_secs AS BIGINT) AS p50_secs,
                 CAST(p90_secs AS BIGINT) AS p90_secs, max_secs
          FROM g ORDER BY 1"""),

    // q245: the q15/q16 rolling-window form — dm/tr sums, DI ratios,
    // DX mean; identical double arithmetic both engines
    "q245_adx" -> (BARS +
      """, dm AS (
            SELECT user_id, date,
                   high - lag(high) OVER w AS up,
                   lag(low) OVER w - low AS dn,
                   greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) AS tr
            FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          dm2 AS (
            SELECT user_id, date, tr,
                   CASE WHEN up > dn AND up > 0 THEN up ELSE 0 END
                     AS dmp,
                   CASE WHEN dn > up AND dn > 0 THEN dn ELSE 0 END
                     AS dmm
            FROM dm),
          sums AS (
            SELECT user_id, date,
                   CASE WHEN count(tr) OVER f >= 14
                        THEN sum(tr) OVER f END AS str,
                   CASE WHEN count(dmp) OVER f >= 14
                        THEN sum(dmp) OVER f END AS sp,
                   CASE WHEN count(dmm) OVER f >= 14
                        THEN sum(dmm) OVER f END AS sm
            FROM dm2
            WINDOW f AS (PARTITION BY user_id ORDER BY date
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
          di AS (
            SELECT user_id, date,
                   100.0 * sp / nullif(str, 0) AS dip,
                   100.0 * sm / nullif(str, 0) AS dim
            FROM sums),
          dx AS (
            SELECT user_id, date, dip, dim,
                   100.0 * abs(dip - dim) / nullif(dip + dim, 0) AS dx
            FROM di)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 round(dip, 4) AS di_plus, round(dim, 4) AS di_minus,
                 round(CASE WHEN count(dx) OVER f >= 14
                            THEN avg(dx) OVER f END, 4) AS adx_14
          FROM dx
          WINDOW f AS (PARTITION BY user_id ORDER BY date
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
          ORDER BY 1, 2"""),

    // q246: VM/TR window sums, one ratio pair
    "q246_vortex" -> (BARS +
      """, vm AS (
            SELECT user_id, date,
                   abs(high - lag(low) OVER w) AS vmp,
                   abs(low - lag(high) OVER w) AS vmm,
                   greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) AS tr
            FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          sums AS (
            SELECT user_id, date,
                   nullif(CASE WHEN count(tr) OVER f >= 14
                          THEN sum(tr) OVER f END, 0) AS str,
                   CASE WHEN count(vmp) OVER f >= 14
                        THEN sum(vmp) OVER f END AS svp,
                   CASE WHEN count(vmm) OVER f >= 14
                        THEN sum(vmm) OVER f END AS svm
            FROM vm
            WINDOW f AS (PARTITION BY user_id ORDER BY date
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 round(svp / str, 4) AS vi_plus,
                 round(svm / str, 4) AS vi_minus
          FROM sums ORDER BY 1, 2"""),

    // q247: 6dp signed-bridge CLV × volume, exact long cumsum
    "q247_ad_line" -> (BARS +
      """, p AS (
            SELECT user_id, date,
                   CAST(CAST(volume AS BIGINT) AS BIGINT) AS vol,
                   CAST(CAST(close AS DECIMAL(14,4)) * 10000 AS BIGINT)
                     * 2
                   - CAST(CAST(high AS DECIMAL(14,4)) * 10000 AS BIGINT)
                   - CAST(CAST(low AS DECIMAL(14,4)) * 10000 AS BIGINT)
                     AS num4,
                   CAST(CAST(high AS DECIMAL(14,4)) * 10000 AS BIGINT)
                   - CAST(CAST(low AS DECIMAL(14,4)) * 10000 AS BIGINT)
                     AS den4
            FROM bars),
          clv AS (
            SELECT user_id, date, vol,
                   CASE WHEN den4 = 0 THEN 0
                        WHEN num4 < 0
                        THEN -((abs(num4) * 2000000 + den4)
                               // (2 * den4))
                        ELSE (num4 * 2000000 + den4) // (2 * den4)
                   END AS clv6
            FROM p),
          mf AS (
            SELECT user_id, date, clv6 * vol AS mf6
            FROM clv)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 CAST(mf6 AS DOUBLE) / 1000000 AS money_flow,
                 CAST(CAST(sum(mf6) OVER (PARTITION BY user_id
                        ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS DOUBLE)
                   / 1000000 AS ad_line
          FROM mf ORDER BY 1, 2"""),

    // q248: open − prev_close in exact 4dp longs
    "q248_gap_stats" -> (BARS +
      """, g AS (
            SELECT user_id,
                   CAST(CAST(open AS DECIMAL(14,4)) * 10000 AS BIGINT)
                   - lag(CAST(CAST(close AS DECIMAL(14,4)) * 10000
                         AS BIGINT)) OVER (PARTITION BY user_id
                                           ORDER BY date) AS gap4
            FROM bars),
          a AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(CASE WHEN gap4 > 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_gap_up,
                   CAST(sum(CASE WHEN gap4 < 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_gap_down,
                   CAST(sum(gap4) AS BIGINT) AS s4,
                   CAST(max(gap4) AS BIGINT) AS mx4,
                   CAST(min(gap4) AS BIGINT) AS mn4
            FROM g WHERE gap4 IS NOT NULL GROUP BY 1)
          SELECT user_id, n_days, n_gap_up, n_gap_down,
                 CAST(CASE WHEN s4 < 0
                      THEN -((abs(s4) * 2 + n_days) // (2 * n_days))
                      ELSE (s4 * 2 + n_days) // (2 * n_days)
                 END AS DOUBLE) / 10000 AS mean_gap,
                 CAST(mx4 AS DOUBLE) / 10000 AS max_gap,
                 CAST(mn4 AS DOUBLE) / 10000 AS min_gap
          FROM a WHERE n_days >= 5 ORDER BY 1"""),

    // q249: gains/losses as 4dp scaled longs, one signed bridge
    "q249_cmo" -> (STAGED +
      """, gl AS (
            SELECT user_id, date, price_change,
                   CAST(CAST(price_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS d
            FROM staged),
          s AS (
            SELECT user_id, date,
                   count(price_change) OVER f AS nd,
                   CAST(sum(CASE WHEN d > 0 THEN d ELSE 0 END)
                     OVER f AS BIGINT) AS sg,
                   CAST(sum(CASE WHEN d < 0 THEN -d ELSE 0 END)
                     OVER f AS BIGINT) AS sl
            FROM gl
            WINDOW f AS (PARTITION BY user_id ORDER BY date
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 CAST(CASE WHEN (sg - sl) < 0
                      THEN -((abs(sg - sl) * 100 * 20000 + (sg + sl))
                             // (2 * (sg + sl)))
                      ELSE ((sg - sl) * 100 * 20000 + (sg + sl))
                           // (2 * (sg + sl))
                 END AS DOUBLE) / 10000 AS cmo
          FROM s WHERE nd >= 14 AND sg + sl > 0 ORDER BY 1, 2"""),

    // q250: month-partition row numbers pick the edge days; signed
    // bridge means
    "q250_tom_effect" -> (STAGED +
      """, x AS (
            SELECT user_id, date,
                   CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS x
            FROM staged WHERE pct_change IS NOT NULL),
          t AS (
            SELECT user_id, x,
                   CASE WHEN row_number() OVER wa <= 3
                          OR row_number() OVER wd <= 3
                   THEN 1 ELSE 0 END AS tom
            FROM x
            WINDOW wa AS (PARTITION BY user_id,
                            date_trunc('month', date)
                          ORDER BY date ASC),
                   wd AS (PARTITION BY user_id,
                            date_trunc('month', date)
                          ORDER BY date DESC)),
          g AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN tom = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_tom,
                   CAST(sum(CASE WHEN tom = 1 THEN x ELSE 0 END)
                     AS BIGINT) AS s_tom,
                   CAST(sum(CASE WHEN tom = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_mid,
                   CAST(sum(CASE WHEN tom = 0 THEN x ELSE 0 END)
                     AS BIGINT) AS s_mid
            FROM t GROUP BY 1)
          SELECT user_id, n_tom, n_mid,
                 CAST(CASE WHEN s_tom < 0
                      THEN -((abs(s_tom) * 2 + n_tom) // (2 * n_tom))
                      ELSE (s_tom * 2 + n_tom) // (2 * n_tom)
                 END AS DOUBLE) / 10000 AS mean_tom,
                 CAST(CASE WHEN s_mid < 0
                      THEN -((abs(s_mid) * 2 + n_mid) // (2 * n_mid))
                      ELSE (s_mid * 2 + n_mid) // (2 * n_mid)
                 END AS DOUBLE) / 10000 AS mean_mid
          FROM g WHERE n_tom >= 2 AND n_mid >= 2 ORDER BY 1"""),

    // q239: run count from a lag over the zero-filtered sign series;
    // E[R] through the 4dp bridge; z from exact integer variance
    // moments (sqrt is the only double)
    "q239_runs_test" -> (STAGED +
      """, sg AS (
            SELECT user_id, date,
                   CASE WHEN CAST(CAST(pct_change AS DECIMAL(14,4))
                          * 10000 AS BIGINT) > 0
                   THEN 1 ELSE -1 END AS s
            FROM staged
            WHERE pct_change IS NOT NULL
              AND CAST(CAST(pct_change AS DECIMAL(14,4)) * 10000
                    AS BIGINT) <> 0),
          fl AS (
            SELECT user_id, s,
                   CASE WHEN lag(s) OVER w IS NULL
                          OR lag(s) OVER w <> s
                   THEN 1 ELSE 0 END AS f
            FROM sg WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          g AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_pos,
                   CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_neg,
                   CAST(sum(f) AS BIGINT) AS runs
            FROM fl GROUP BY 1)
          SELECT user_id, n_pos, n_neg, runs,
                 CAST(((n_pos + n_neg + 2 * n_pos * n_neg) * 20000
                       + (n_pos + n_neg))
                      // (2 * (n_pos + n_neg)) AS DOUBLE) / 10000
                   AS expected_runs,
                 round((CAST(runs AS DOUBLE)
                        - (1 + CAST(2 * n_pos * n_neg AS DOUBLE)
                             / (n_pos + n_neg)))
                       / sqrt(CAST(2 * n_pos * n_neg
                                * (2 * n_pos * n_neg
                                   - (n_pos + n_neg)) AS DOUBLE)
                              / CAST((n_pos + n_neg) * (n_pos + n_neg)
                                   * (n_pos + n_neg - 1) AS DOUBLE)),
                       4) AS z_stat
          FROM g WHERE n_pos >= 2 AND n_neg >= 2 ORDER BY 1"""),

    // q240: per-row 10dp bridge round(y4·10⁶/v), mean through a
    // second 8dp bridge — integer end to end
    "q240_amihud" -> (BARS +
      """, st AS (
            SELECT user_id, date, volume,
                   round((close - lag(close) OVER w)
                         / nullif(lag(close) OVER w, 0) * 100, 4)
                     AS pct_change
            FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          s AS (
            SELECT user_id,
                   CAST(CAST(abs(pct_change) AS DECIMAL(14,4)) * 10000
                     AS BIGINT) AS y,
                   CAST(volume AS BIGINT) AS v
            FROM st WHERE pct_change IS NOT NULL),
          r AS (
            SELECT user_id, (y * 2000000 + v) // (2 * v) AS r10
            FROM s),
          g AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(r10) AS BIGINT) AS s10
            FROM r GROUP BY 1)
          SELECT user_id, n_days,
                 CAST((s10 * 2 + n_days * 100)
                      // (2 * n_days * 100) AS DOUBLE) / 100000000
                   AS illiq
          FROM g WHERE n_days >= 5 ORDER BY 1"""),

    // q223: F = (nΣc² − S²)/((n−1)S) in exact integers
    "q223_dispersion" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
           FROM events GROUP BY 1, 2),
         g AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                  CAST(sum(c) AS BIGINT) AS s,
                  CAST(sum(c * c) AS BIGINT) AS ssq
           FROM daily GROUP BY 1)
         SELECT event_type, n_days, s AS total_events,
                CAST((s * 20000 + n_days) // (2 * n_days) AS DOUBLE)
                  / 10000 AS mean_daily,
                CAST(CASE WHEN n_days * ssq - s * s < 0
                     THEN -(((s * s - n_days * ssq) * 20000
                             + (n_days - 1) * s)
                            // (2 * (n_days - 1) * s))
                     ELSE ((n_days * ssq - s * s) * 20000
                           + (n_days - 1) * s)
                          // (2 * (n_days - 1) * s) END AS DOUBLE)
                  / 10000 AS fano
         FROM g WHERE n_days > 1 AND s > 0 ORDER BY 1""",

    // q220: per-key extent join, the psi clamped-bin arithmetic,
    // exact volume shares
    "q220_volume_profile" -> (BARS +
      """, ext AS (
            SELECT user_id, min(close) AS vmin, max(close) AS vmax
            FROM bars GROUP BY 1),
          b AS (
            SELECT bars.user_id,
                   CASE WHEN vmax = vmin THEN 0
                        ELSE CAST(least(floor(((close - vmin) * 10)
                          / (vmax - vmin)), 9) AS BIGINT) END AS bin,
                   volume
            FROM bars JOIN ext ON bars.user_id = ext.user_id),
          g AS (
            SELECT user_id, bin, CAST(count(*) AS BIGINT) AS n_bars,
                   CAST(sum(volume) AS BIGINT) AS volume
            FROM b GROUP BY 1, 2),
          w AS (
            SELECT user_id, bin, n_bars, volume,
                   CAST(sum(volume) OVER (PARTITION BY user_id)
                     AS BIGINT) AS t
            FROM g)
          SELECT user_id, bin, n_bars, volume,
                 CAST((volume * 20000 + greatest(t, 1))
                      // (2 * greatest(t, 1)) AS DOUBLE) / 10000
                   AS volume_share
          FROM w ORDER BY 1, 2"""),

    // q213: first-seen day via per-user window min
    "q213_new_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                     FROM events),
            f AS (SELECT user_id, d,
                         min(d) OVER (PARTITION BY user_id) AS first_d
                  FROM ud),
            g AS (SELECT d, CAST(count(*) AS BIGINT) AS n_active,
                         CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0
                           END) AS BIGINT) AS n_new
                  FROM f GROUP BY 1)
         SELECT strftime(d, '%Y-%m-%d') AS date, n_active, n_new,
                n_active - n_new AS n_returning,
                CAST((n_new * 20000 + n_active) // (2 * n_active)
                  AS DOUBLE) / 10000 AS new_share
         FROM g ORDER BY 1""",

    // q214: same mkt frame as q145, covar/var over the trailing frame;
    // the emitted mkt_ret is the bridge-exact mean of the 4dp returns
    "q214_rolling_beta" -> (STAGED +
      """, r AS (
            SELECT user_id, date, pct_change AS ret FROM staged
            WHERE pct_change IS NOT NULL),
          mkt AS (SELECT date, avg(ret) AS mkt_ret,
                         CAST(count(*) AS BIGINT) AS nm,
                         CAST(sum(CAST(CAST(ret AS DECIMAL(14,4)) * 10000
                           AS BIGINT)) AS BIGINT) AS sm
                  FROM r GROUP BY 1),
          j AS (SELECT r.user_id, r.date, r.ret, mkt.mkt_ret, mkt.sm,
                       mkt.nm
                FROM r JOIN mkt USING (date)),
          b AS (SELECT user_id, date, ret, mkt_ret, sm, nm,
                       CASE WHEN count(ret) OVER f >= 30 THEN
                         round(covar_pop(ret, mkt_ret) OVER f
                               / nullif(var_pop(mkt_ret) OVER f, 0), 4)
                       END AS rolling_beta
                FROM j WINDOW f AS (PARTITION BY user_id ORDER BY date
                  ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, ret,
                 CAST(CASE WHEN sm < 0
                   THEN -((abs(sm) * 2 + nm) // (2 * nm))
                   ELSE (abs(sm) * 2 + nm) // (2 * nm) END
                   AS DOUBLE) / 10000 AS mkt_ret, rolling_beta
          FROM b ORDER BY 1, 2"""),

    // q207: 0-prepended fold; (1e0 - 94e-2) folds to the same double
    // as Spark's precomputed 1.0 - lambda
    "q207_ewma_vol" -> (STAGED +
      """, x AS (
            SELECT user_id, date, pct_change FROM staged
            WHERE pct_change IS NOT NULL),
          l AS (
            SELECT user_id, date, pct_change,
                   list_prepend(0e0, list(pct_change) OVER (
                     PARTITION BY user_id ORDER BY date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                     AS xs
            FROM x),
          v AS (
            SELECT user_id, date, pct_change,
                   list_reduce(xs, (a, b) ->
                     94e-2 * a + (1e0 - 94e-2) * b * b) AS v
            FROM l)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 pct_change,
                 round(sqrt(v), 4) AS ewma_vol,
                 round(sqrt(v * 252e0), 4) AS ewma_vol_annual
          FROM v ORDER BY 1, 2"""),

    // q208: identical constant expression (2·ln2 − 1) and left-assoc
    // products; sqrt gated on a non-negative windowed mean
    "q208_garman_klass" -> (BARS +
      """, g AS (
            SELECT user_id, date,
                   CASE WHEN open > 0 AND high > 0 AND low > 0
                        AND close > 0 THEN
                     5e-1 * ln(high / low) * ln(high / low)
                     - (2e0 * ln(2e0) - 1e0) * ln(close / open)
                       * ln(close / open) END AS gk
            FROM bars),
          r AS (
            SELECT user_id, date,
                   CASE WHEN count(gk) OVER f >= 20
                        AND avg(gk) OVER f >= 0
                        THEN round(sqrt(avg(gk) OVER f), 4) END
                     AS gk_vol
            FROM g
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, gk_vol
          FROM r ORDER BY 1, 2"""),

    // q209: two leads on one (user, day) window; top-20 with a total
    // (count desc, path asc) order
    "q209_event_paths" ->
      """WITH b AS (
           SELECT user_id, CAST(ts AS DATE) AS d, event_id, event_type
           FROM events),
         p AS (
           SELECT concat_ws('>', event_type,
                    lead(event_type, 1) OVER w,
                    lead(event_type, 2) OVER w) AS path,
                  lead(event_type, 2) OVER w AS e3
           FROM b WINDOW w AS (PARTITION BY user_id, d
             ORDER BY event_id)),
         c AS (SELECT path, CAST(count(*) AS BIGINT) AS n
               FROM p WHERE e3 IS NOT NULL GROUP BY 1),
         r AS (SELECT CAST(row_number() OVER (ORDER BY n DESC,
                 path ASC) AS BIGINT) AS rank, path, n
               FROM c)
         SELECT rank, path, n FROM r WHERE rank <= 20 ORDER BY rank""",

    // q204: the 0-prepend makes list_reduce's seed the mathematical
    // s₀ = 0; lambda shape a + (b ∓ k) matches the Spark fold exactly
    "q204_cusum" -> (STAGED +
      """, x AS (
            SELECT user_id, date, pct_change FROM staged
            WHERE pct_change IS NOT NULL),
          l AS (
            SELECT user_id, date, pct_change,
                   list_prepend(0e0, list(pct_change) OVER (
                     PARTITION BY user_id ORDER BY date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                     AS xs
            FROM x),
          c AS (
            SELECT user_id, date, pct_change,
                   list_reduce(xs,
                     (a, b) -> greatest(0e0, a + (b - 5e-1))) AS sp,
                   list_reduce(xs,
                     (a, b) -> least(0e0, a + (b + 5e-1))) AS sn
            FROM l)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 pct_change,
                 round(sp, 4) + 0 AS cusum_pos,
                 round(sn, 4) + 0 AS cusum_neg,
                 sp > 4e0 OR sn < -4e0 AS alarm
          FROM c ORDER BY 1, 2"""),

    // q205: first() over the cumulative frame + lag, credits folded
    // per channel with a full-outer merge
    "q205_attribution" ->
      """WITH b AS (
           SELECT user_id, CAST(ts AS DATE) AS d, event_id, event_type
           FROM events),
         t AS (
           SELECT user_id, d, event_type,
                  first(event_type) OVER (PARTITION BY user_id, d
                    ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS first_t,
                  coalesce(lag(event_type) OVER (PARTITION BY user_id,
                    d ORDER BY event_id), '(none)') AS last_t
           FROM b),
         p AS (SELECT first_t, last_t FROM t
               WHERE event_type = 'purchase'),
         f AS (SELECT first_t AS channel,
                      CAST(count(*) AS BIGINT) AS n_first_touch
               FROM p GROUP BY 1),
         l AS (SELECT last_t AS channel,
                      CAST(count(*) AS BIGINT) AS n_last_touch
               FROM p GROUP BY 1)
         SELECT coalesce(f.channel, l.channel) AS channel,
                coalesce(n_first_touch, 0) AS n_first_touch,
                coalesce(n_last_touch, 0) AS n_last_touch
         FROM f FULL OUTER JOIN l ON f.channel = l.channel
         ORDER BY 1""",

    // q206: frame-ordered centered-MA trend; seasonal means run in
    // exact DECIMAL through the signed bridge; Mon=0 dow mirror
    "q206_seasonal" -> (BARS +
      """, tr AS (
            SELECT user_id, date, close,
                   CASE WHEN count(close) OVER f = 7
                        THEN round(avg(close) OVER f, 4) END AS trend
            FROM bars
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
          dt AS (
            SELECT user_id, date, close, trend,
                   CAST((dayofweek(date) + 6) % 7 AS BIGINT) AS dow,
                   CAST(round(close - trend, 4) AS DECIMAL(14,4))
                     AS detr
            FROM tr),
          se AS (
            SELECT user_id, dow,
                   CAST(sum(detr) * 10000 AS BIGINT) AS s4,
                   CAST(count(*) AS BIGINT) * 10000 AS den
            FROM dt WHERE detr IS NOT NULL GROUP BY 1, 2),
          sm AS (
            SELECT user_id, dow,
                   CAST(CASE WHEN s4 < 0
                        THEN -((abs(s4) * 20000 + den) // (2 * den))
                        ELSE (s4 * 20000 + den) // (2 * den) END
                     AS DOUBLE) / 10000 AS seasonal
            FROM se)
          SELECT d.user_id, strftime(d.date, '%Y-%m-%d') AS date,
                 d.close, d.trend, d.dow, sm.seasonal,
                 round(CAST(d.detr AS DOUBLE) - sm.seasonal, 4)
                   AS residual
          FROM dt d LEFT JOIN sm ON d.user_id = sm.user_id
            AND d.dow = sm.dow
          ORDER BY 1, 2"""),

    // q195: the q18 `sent` dominant-type series folded to change rows
    // with [from, to] day validity and per-key versions

    // q195: the q18 `sent` dominant-type series folded to change rows
    // with [from, to] day validity and per-key versions
    "q195_scd2" ->
      """WITH sent AS (
            SELECT user_id, date, lower(event_type) AS sentiment
            FROM (SELECT user_id, CAST(ts AS DATE) AS date, event_type,
                         row_number() OVER (
                           PARTITION BY user_id, CAST(ts AS DATE)
                           ORDER BY count(*) DESC, event_type) AS rn
                  FROM events GROUP BY 1, 2, 3) t
            WHERE rn = 1),
          ch AS (
            SELECT user_id, date, sentiment,
                   lag(sentiment) OVER w AS prev
            FROM sent WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          keep AS (
            SELECT user_id, date, sentiment FROM ch
            WHERE prev IS NULL OR sentiment <> prev),
          v AS (
            SELECT user_id, sentiment,
                   CAST(row_number() OVER w AS BIGINT) AS version,
                   date AS effective_from,
                   lead(date) OVER w - 1 AS effective_to
            FROM keep WINDOW w AS (PARTITION BY user_id ORDER BY date))
          SELECT user_id, sentiment, version,
                 strftime(effective_from, '%Y-%m-%d') AS effective_from,
                 strftime(effective_to, '%Y-%m-%d') AS effective_to,
                 effective_to IS NULL AS is_current
          FROM v ORDER BY user_id, version""",

    // q197: at-risk counts by reverse-cumulative churn; the survival
    // product is exp of a cumulative 6dp-DECIMAL log sum; S(last) = 0
    "q197_survival" ->
      """WITH life AS (
            SELECT user_id,
                   CAST(date_diff('day', min(CAST(ts AS DATE)),
                     max(CAST(ts AS DATE))) AS BIGINT) AS t
            FROM events GROUP BY 1),
          byt AS (SELECT t, CAST(count(*) AS BIGINT) AS d
                  FROM life GROUP BY 1),
          r AS (SELECT t, d,
                       CAST(sum(d) OVER (ORDER BY t ROWS BETWEEN
                         CURRENT ROW AND UNBOUNDED FOLLOWING)
                         AS BIGINT) AS n
                FROM byt),
          tm AS (SELECT t, d, n,
                        CASE WHEN n > d THEN
                          CAST(round(ln(CAST(n - d AS DOUBLE) / n), 6)
                            AS DECIMAL(10,6)) END AS lt
                 FROM r),
          c AS (SELECT t, d, n,
                       sum(lt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS sl
                FROM tm)
          SELECT t, n AS n_at_risk, d AS n_churned,
                 CASE WHEN n > d THEN round(exp(CAST(sl AS DOUBLE)), 4)
                      ELSE 0.0 END AS survival
          FROM c ORDER BY t""",

    // q149: each distinct user-day joined to the observed dates it is
    // visible from (trailing 7-day window)
    "q149_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                     FROM events),
            ds AS (SELECT DISTINCT d AS date FROM ud)
         SELECT strftime(ds.date, '%Y-%m-%d') AS date,
                count(DISTINCT ud.user_id) AS active_users
         FROM ds JOIN ud ON ud.d BETWEEN ds.date - 6 AND ds.date
         GROUP BY ds.date ORDER BY 1""",
    // q150: exact DECIMAL monetary sum; every ntile ordering carries a
    // user_id tiebreak so the buckets are engine-portable
    "q150_rfm" ->
      """WITH per AS (
            SELECT user_id, max(CAST(ts AS DATE)) AS last_d,
                   count(*) AS frequency,
                   sum(CAST(value AS DECIMAL(18,2))) AS mon
            FROM events GROUP BY 1),
          a AS (SELECT max(CAST(ts AS DATE)) AS anchor FROM events),
          s AS (
            SELECT user_id,
                   CAST(date_diff('day', last_d, anchor) AS BIGINT)
                     AS recency,
                   CAST(frequency AS BIGINT) AS frequency, mon
            FROM per, a)
         SELECT user_id, recency, frequency,
                CAST(mon AS DOUBLE) AS monetary,
                CAST(ntile(5) OVER (ORDER BY recency, user_id)
                     AS BIGINT) AS r_score,
                CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id)
                     AS BIGINT) AS f_score,
                CAST(ntile(5) OVER (ORDER BY mon DESC, user_id)
                     AS BIGINT) AS m_score,
                CAST(ntile(5) OVER (ORDER BY recency, user_id)
                     AS VARCHAR)
                  || '-' ||
                CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id)
                     AS VARCHAR)
                  || '-' ||
                CAST(ntile(5) OVER (ORDER BY mon DESC, user_id)
                     AS VARCHAR) AS segment
         FROM s ORDER BY user_id""",
    // q151: per-key full-calendar grid, left join, IGNORE NULLS ffill
    "q151_gapfill" -> (BARS +
      """, spans AS (
            SELECT user_id, min(date) AS d0, max(date) AS d1
            FROM bars GROUP BY 1),
          grid AS (
            SELECT user_id,
                   unnest(generate_series(d0, d1,
                     INTERVAL 1 DAY))::DATE AS date
            FROM spans),
          j AS (
            SELECT g.user_id, g.date, b.close, b.volume
            FROM grid g LEFT JOIN bars b
              ON g.user_id = b.user_id AND g.date = b.date)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
                 last_value(close IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS close_ffill,
                 CAST(coalesce(volume, 0) AS BIGINT) AS volume,
                 CAST(close IS NULL AS BIGINT) AS is_gap
          FROM j ORDER BY 1, 2"""),
    // q152: 4dp momentum + user_id tiebreak make the per-date ntile
    // engine-portable; avg(next_ret) guarded against -0.0
    "q152_momentum_quintiles" -> (BARS +
      """, m AS (
            SELECT user_id, date,
                   round((close - lag(close, 5) OVER w)
                         / nullif(lag(close, 5) OVER w, 0) * 100, 4)
                     AS mom,
                   round((lead(close) OVER w - close)
                         / nullif(close, 0) * 100, 4) AS next_ret
            FROM bars
            WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          s AS (SELECT * FROM m WHERE mom IS NOT NULL),
          qq AS (
            SELECT date, user_id, next_ret,
                   ntile(5) OVER (PARTITION BY date
                     ORDER BY mom DESC, user_id) AS quintile
            FROM s)
          SELECT strftime(date, '%Y-%m-%d') AS date,
                 CAST(quintile AS BIGINT) AS quintile,
                 count(*) AS n_users,
                 round(avg(next_ret), 4) + 0 AS avg_next_ret
          FROM qq GROUP BY 1, 2 ORDER BY 1, 2"""),
    // q153: shared lag window, UNION-ALL unpivot, Pearson per (key,lag)
    "q153_autocorr" -> (STAGED +
      """, r AS (
            SELECT user_id, date, pct_change AS ret FROM staged
            WHERE pct_change IS NOT NULL),
          l AS (
            SELECT user_id, ret, lag(ret, 1) OVER w AS l1,
                   lag(ret, 2) OVER w AS l2, lag(ret, 3) OVER w AS l3
            FROM r WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          u AS (
            SELECT user_id, 1 AS lag, ret, l1 AS lret FROM l
            WHERE l1 IS NOT NULL
            UNION ALL SELECT user_id, 2, ret, l2 FROM l
            WHERE l2 IS NOT NULL
            UNION ALL SELECT user_id, 3, ret, l3 FROM l
            WHERE l3 IS NOT NULL)
          SELECT user_id, CAST(lag AS BIGINT) AS lag,
                 count(*) AS n,
                 round(corr(ret, lret), 4) + 0 AS autocorr
          FROM u GROUP BY 1, 2 HAVING count(*) >= 10
          ORDER BY 1, 2"""),
    // q154: z-score against the PRIOR 14 days (frame excludes the
    // current row), full-window gate; null z -> null flag in both
    "q154_volume_anomaly" -> (BARS +
      """, z AS (
            SELECT user_id, date, volume,
                   CASE WHEN count(volume) OVER f >= 14 THEN
                     round((volume - avg(volume) OVER f)
                           / nullif(stddev_samp(volume) OVER f, 0), 4)
                   END AS vol_z
            FROM bars
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 CAST(volume AS BIGINT) AS volume, vol_z,
                 CAST(abs(vol_z) >= 3.0 AS BIGINT) AS is_anomaly
          FROM z ORDER BY 1, 2"""),
    // q160: prior-window channel (a new extreme breaks the PREVIOUS
    // channel), gated nulls cascade into the signal
    "q160_donchian" -> (BARS +
      """, ch AS (
            SELECT user_id, date, close,
                   CASE WHEN count(high) OVER f >= 20
                        THEN max(high) OVER f END AS upper,
                   CASE WHEN count(low) OVER f >= 20
                        THEN min(low) OVER f END AS lower
            FROM bars
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
                 upper, lower,
                 CASE WHEN upper IS NULL THEN NULL
                      WHEN close > upper THEN 1
                      WHEN close < lower THEN -1
                      ELSE 0 END::BIGINT AS signal
          FROM ch ORDER BY 1, 2"""),
    // q161: weekly volume-weighted close, scaled-long half-up round
    // (the ExactRound bridge — the double ratio hits …5 ties)
    "q161_weekly_vwap" -> (BARS +
      """, a AS (
            SELECT user_id, date_trunc('week', date) AS wk,
                   count(*) AS n_days,
                   CAST(sum(volume) AS BIGINT) AS volume,
                   sum(CAST(round(close * 10000) AS BIGINT) * volume)
                     AS num
            FROM bars GROUP BY 1, 2)
          SELECT user_id, strftime(wk, '%Y-%m-%d') AS week, n_days,
                 volume,
                 CAST((2 * num + volume) // (2 * volume) AS DOUBLE)
                   / 10000 AS vwap
          FROM a ORDER BY 1, 2"""),
    // q167: trailing window includes the current row; -0.0 (close at
    // the window high) normalized by + 0 on both sides
    "q167_williams_r" -> (BARS +
      """, wr AS (
            SELECT user_id, date, close,
                   CASE WHEN count(high) OVER f >= 14
                        THEN max(high) OVER f END AS hi,
                   CASE WHEN count(low) OVER f >= 14
                        THEN min(low) OVER f END AS lo
            FROM bars
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
                 round((hi - close) / nullif(hi - lo, 0) * -100, 4) + 0
                   AS wr_14
          FROM wr ORDER BY 1, 2"""),
    // q168: the MD term is a per-row fold of the window list against
    // the window's own SMA — same fold order (date asc) as Spark's
    // collect_list + aggregate HOF
    "q168_cci" -> (BARS +
      """, t AS (
            SELECT user_id, date, (high + low + close) / 3 AS tp
            FROM bars),
          c AS (
            SELECT user_id, date, tp,
                   CASE WHEN count(tp) OVER f >= 20
                        THEN avg(tp) OVER f END AS sma,
                   list(tp) OVER f AS win
            FROM t
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 round((tp - sma) / nullif(0.015e0 *
                     (list_reduce(list_transform(win, x -> abs(x - sma)),
                        (a, b) -> a + b) / 20), 0), 4) + 0 AS cci_20
          FROM c ORDER BY 1, 2"""),
    // q169: positive/negative typical-price flows vs the PREVIOUS tp;
    // warm-up requires 14 rows that HAVE a previous tp; zero negative
    // flow -> 100 explicitly
    "q169_mfi" -> (BARS +
      """, t AS (
            SELECT user_id, date, (high + low + close) / 3 AS tp, volume
            FROM bars),
          fl AS (
            SELECT user_id, date, tp, lag(tp) OVER w AS ptp,
                   tp * volume AS flow
            FROM t WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          s AS (
            SELECT user_id, date, ptp,
                   CASE WHEN ptp IS NOT NULL AND tp > ptp
                        THEN flow ELSE 0e0 END AS pos,
                   CASE WHEN ptp IS NOT NULL AND tp < ptp
                        THEN flow ELSE 0e0 END AS neg
            FROM fl),
          agg AS (
            SELECT user_id, date,
                   CASE WHEN count(ptp) OVER f >= 14
                        THEN sum(pos) OVER f END AS sp,
                   sum(neg) OVER f AS sn
            FROM s
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 round(CASE WHEN sp IS NULL THEN NULL
                            WHEN sn = 0 THEN 100e0
                            ELSE 100e0 - 100e0 / (1e0 + sp / sn)
                       END, 4) AS mfi_14
          FROM agg ORDER BY 1, 2"""),
    // q170: EMA(20) of typical price via the q142 list_reduce fold;
    // the band adds the 4dp-ROUNDED ATR(10) exactly as the scan does
    "q170_keltner" -> (BARS +
      """, t AS (
            SELECT user_id, date, close,
                   (high + low + close) / 3 AS tp,
                   greatest(high - low,
                            abs(high - lag(close) OVER w),
                            abs(low - lag(close) OVER w)) AS tr
            FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          e AS (
            SELECT user_id, date, close,
                   list_reduce(list(tp) OVER pw, (a, b) ->
                     (2e0/21e0)*b + (1e0 - 2e0/21e0)*a) AS ema,
                   round(CASE WHEN count(tr) OVER f >= 10
                              THEN avg(tr) OVER f END, 4) AS atr4
            FROM t
            WINDOW pw AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
                 round(ema, 4) AS center,
                 round(ema + 2e0 * atr4, 4) AS upper,
                 round(ema - 2e0 * atr4, 4) AS lower,
                 atr4 AS atr_10
          FROM e ORDER BY 1, 2"""),
    // q171: annualized Sharpe/Sortino; downside deviation uses the
    // full-count convention sqrt(sum(min(r,0)^2)/n)
    "q171_risk_summary" -> (STAGED +
      """, r AS (
            SELECT user_id, pct_change AS ret FROM staged
            WHERE pct_change IS NOT NULL),
          a AS (
            SELECT user_id, count(*) AS n_days, avg(ret) AS m,
                   sum(CAST(round(ret * 10000) AS BIGINT)) AS sru,
                   stddev_samp(ret) AS v,
                   sum(power(least(ret, 0e0), 2)) AS dss
            FROM r GROUP BY 1 HAVING count(*) >= 10)
          SELECT user_id, n_days,
                 CAST(CASE WHEN sru < 0
                        THEN -((2 * (-sru) + n_days) // (2 * n_days))
                        ELSE (2 * sru + n_days) // (2 * n_days) END
                      AS DOUBLE) / 10000 AS mean_ret,
                 round(v, 4) AS vol,
                 round(m / nullif(v, 0) * sqrt(252e0), 4) + 0 AS sharpe,
                 round(m / nullif(sqrt(dss / n_days), 0) * sqrt(252e0), 4)
                   + 0 AS sortino
          FROM a ORDER BY 1"""),
    // q178: the recursive member duplicates the l-recurrence expression
    // so b sees the identical double; constants written as (1e0 - α)
    // subtractions so both engines round the SAME IEEE operation
    "q178_holt" -> (BARS.replaceFirst("WITH", "WITH RECURSIVE") +
      """, t AS (
            SELECT user_id, date, close,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY date) AS rn
            FROM bars),
          h AS (
            SELECT user_id, rn, date, close, close AS l, 0e0 AS b
            FROM t WHERE rn = 1
            UNION ALL
            SELECT t.user_id, t.rn, t.date, t.close,
                   0.5e0 * t.close + (1e0 - 0.5e0) * (h.l + h.b),
                   0.3e0 * ((0.5e0 * t.close
                             + (1e0 - 0.5e0) * (h.l + h.b)) - h.l)
                     + (1e0 - 0.3e0) * h.b
            FROM h JOIN t ON t.user_id = h.user_id AND t.rn = h.rn + 1)
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date, close,
                 l AS level, b + 0 AS trend, l + b AS forecast
          FROM h ORDER BY 1, 2"""),
    // q179: per-date advance/decline counts over non-null returns,
    // cumulative net line over the global date order
    "q179_breadth" -> (STAGED +
      """, a AS (
            SELECT date,
                   count(CASE WHEN pct_change > 0 THEN 1 END) AS advances,
                   count(CASE WHEN pct_change < 0 THEN 1 END) AS declines,
                   count(CASE WHEN pct_change = 0 THEN 1 END) AS unchanged
            FROM staged WHERE pct_change IS NOT NULL GROUP BY 1)
          SELECT strftime(date, '%Y-%m-%d') AS date,
                 advances, declines, unchanged,
                 CAST(sum(advances - declines) OVER (ORDER BY date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS ad_line
          FROM a ORDER BY 1"""),
    // q180: flat bars (high = low) contribute zero flow but full volume
    "q180_cmf" -> (BARS +
      """, c AS (
            SELECT user_id, date,
                   CASE WHEN count(high) OVER f >= 20 THEN
                     sum(coalesce(((close - low) - (high - close))
                                  / nullif(high - low, 0) * volume, 0e0))
                       OVER f
                     / sum(volume) OVER f
                   END AS cmf
            FROM bars
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 round(cmf, 4) + 0 AS cmf_20
          FROM c ORDER BY 1, 2"""),
    // q181: each dd is vs the WINDOW's max close — same bounded-list
    // fold as the CCI oracle; list_reduce's first-element seed equals
    // Spark's 0.0-seeded left fold exactly (0 + x == x)
    "q181_ulcer" -> (BARS +
      """, c AS (
            SELECT user_id, date,
                   CASE WHEN count(close) OVER f >= 14
                        THEN max(close) OVER f END AS peak,
                   list(close) OVER f AS win
            FROM bars
            WINDOW f AS (PARTITION BY user_id ORDER BY date
              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
                 round(CASE WHEN peak IS NOT NULL THEN
                   sqrt(list_reduce(list_transform(win,
                          x -> (100e0 * (x - peak) / peak)
                               * (100e0 * (x - peak) / peak)),
                        (a, b) -> a + b) / 14)
                 END, 4) AS ui_14
          FROM c ORDER BY 1, 2"""),
    // q177: Pearson corr of midranks — both engines evaluate corr()
    // over identical rational midrank inputs
    "q177_vol_volume_rank_corr" -> (BARS +
      """, st AS (
            SELECT user_id, volume,
                   round((close - lag(close) OVER w)
                         / nullif(lag(close) OVER w, 0) * 100, 4)
                     AS pct_change
            FROM bars
            WINDOW w AS (PARTITION BY user_id ORDER BY date)),
          s AS (
            SELECT user_id, CAST(volume AS DOUBLE) AS v,
                   abs(pct_change) AS a
            FROM st WHERE pct_change IS NOT NULL),
          mr AS (
            SELECT user_id,
                   rank() OVER (PARTITION BY user_id ORDER BY v)
                     + (count(*) OVER (PARTITION BY user_id, v) - 1) / 2e0
                     AS rx,
                   rank() OVER (PARTITION BY user_id ORDER BY a)
                     + (count(*) OVER (PARTITION BY user_id, a) - 1) / 2e0
                     AS ry
            FROM s)
          SELECT user_id, count(*) AS n, round(corr(rx, ry), 4) AS rho
          FROM mr GROUP BY 1 ORDER BY 1"""),
    // q136: each stage = min ts of its step AT OR AFTER the previous
    // stage, per (user, day); cascading nulls via the join filters
    "q136_daily_funnel" ->
      """WITH e AS (
           SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d')
                    AS date,
                  epoch_us(ts) AS ts_us, event_type
           FROM events),
         base AS (SELECT user_id, date, count(*) AS n_events
                  FROM e GROUP BY 1, 2),
         s1 AS (SELECT user_id, date, min(ts_us) AS t1_us
                FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         s2 AS (SELECT e.user_id, e.date, min(ts_us) AS t2_us
                FROM e JOIN s1 USING (user_id, date)
                WHERE event_type = 'click' AND ts_us >= t1_us
                GROUP BY 1, 2),
         s3 AS (SELECT e.user_id, e.date, min(ts_us) AS t3_us
                FROM e JOIN s2 USING (user_id, date)
                WHERE event_type = 'purchase' AND ts_us >= t2_us
                GROUP BY 1, 2)
         SELECT b.user_id, b.date, b.n_events, t1_us, t2_us, t3_us,
                CAST((CASE WHEN t1_us IS NOT NULL THEN 1 ELSE 0 END)
                   + (CASE WHEN t2_us IS NOT NULL THEN 1 ELSE 0 END)
                   + (CASE WHEN t3_us IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS reached
         FROM base b
         LEFT JOIN s1 USING (user_id, date)
         LEFT JOIN s2 USING (user_id, date)
         LEFT JOIN s3 USING (user_id, date)
         ORDER BY user_id, date""",
    // q166: completed funnels only (inner joins), exact seconds from
    // micros, interpolated percentiles rounded 4dp
    "q166_funnel_latency" ->
      """WITH e AS (
           SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d')
                    AS date,
                  epoch_us(ts) AS ts_us, event_type
           FROM events),
         s1 AS (SELECT user_id, date, min(ts_us) AS t1_us
                FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         s2 AS (SELECT e.user_id, e.date, min(ts_us) AS t2_us
                FROM e JOIN s1 USING (user_id, date)
                WHERE event_type = 'click' AND ts_us >= t1_us
                GROUP BY 1, 2),
         s3 AS (SELECT e.user_id, e.date, min(ts_us) AS t3_us
                FROM e JOIN s2 USING (user_id, date)
                WHERE event_type = 'purchase' AND ts_us >= t2_us
                GROUP BY 1, 2),
         conv AS (
           SELECT s1.date,
                  CAST(t3_us - t1_us AS DOUBLE) / 1000000 AS lat_s
           FROM s1
           JOIN s2 USING (user_id, date)
           JOIN s3 USING (user_id, date))
         SELECT date, count(*) AS n_converted,
                round(quantile_cont(lat_s, 0.5), 4) AS lat_p50,
                round(quantile_cont(lat_s, 0.9), 4) AS lat_p90
         FROM conv GROUP BY 1 ORDER BY 1""",
    // q137: first active day per user, distinct actives per offset
    "q137_cohort_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                    FROM events),
            f AS (SELECT user_id, min(d) AS c FROM e GROUP BY 1)
         SELECT strftime(c, '%Y-%m-%d') AS cohort_date,
                CAST(date_diff('day', c, d) AS BIGINT) AS day_offset,
                count(DISTINCT user_id) AS n_users
         FROM e JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // q132: same lead() interval construction; deletes filtered after
    // the window so they still close predecessors
    "q132_scd2_history" ->
      """WITH c AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  round(value, 4) AS value,
                  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END
                    AS op
           FROM events),
         w AS (
           SELECT *, lead(ts_us) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) AS valid_to_us
           FROM c)
         SELECT user_id, event_id, value, ts_us AS valid_from_us,
                valid_to_us,
                CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END
                  AS BIGINT) AS is_current
         FROM w WHERE op <> 'D'
         ORDER BY user_id, valid_from_us, event_id""",
    "q52_stream_daily_counts" ->
      """SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q26_json_extract" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events
         WHERE props IS NOT NULL
         ORDER BY event_id""",
    "q26b_json_native" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events
         WHERE props IS NOT NULL
         ORDER BY event_id""")
}
