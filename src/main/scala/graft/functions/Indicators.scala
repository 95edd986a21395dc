package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import WindowFns._

/** Technical indicators re-expressed as native Catalyst column expressions.
  *
  * Each mirrors one pandas function in the reference's
  * ml/feature_engineering.py; the chosen NaN/null and warm-up semantics are
  * documented per function (SURVEY §2.5 W7-W12, §7.5 item 1). All are pure
  * expressions — codegen-friendly, no UDFs.
  */
object Indicators {

  /** Intraday volatility `(high-low)/close*100`
    * (reference: ml/feature_engineering.py:7-9; SQL twin
    * sql/dashboard_views.sql:9 with NULLIF(close,0) — we adopt the SQL
    * NULLIF semantics, accepted by the reference's own tests). */
  def volatility(high: Column, low: Column, close: Column): Column =
    round((high - low) / nullif(close, lit(0)) * 100, 4)

  /** `pd.cut` volatility bins (0,medium],(medium,high],(high,inf) →
    * low/medium/high (reference: ml/feature_engineering.py:12-29).
    * Null input → null label, matching pd.cut NaN handling. */
  def classifyVolatility(v: Column, medium: Double = 2.0,
                         high: Double = 5.0): Column =
    when(v.isNull, lit(null).cast("string"))
      .when(v <= medium, "low")
      .when(v <= high, "medium")
      .otherwise("high")

  /** RSI(period) (reference: ml/feature_engineering.py:32-40).
    * delta = diff(close); gain/loss = clamped positive/negative parts;
    * rolling means use the pandas DEFAULT min_periods=period, so the
    * first `period-1` rows (0-based) are null and the first valid RSI is
    * at row index period-1 — exactly pandas. The reference's
    * `delta.where(delta > 0, 0)` CLAMPS the NaN first diff to 0, so the
    * rolling count includes the first row. avg_loss == 0 reads 100
    * explicitly (pandas: gain/0 → inf → 100-100/(1+inf)).
    *
    * The window aggregates are STAGED as intermediate columns
    * (optimization round 12, guide §1.2 step 2 / §7.2): Catalyst's
    * ExtractWindowExpressions extracts one window expression PER TEXTUAL
    * OCCURRENCE — the pure-Column formula (kept in test scope as
    * `IndicatorColumnForms.rsi`, the equivalence reference and the
    * pandas-vector pin in IndicatorsSpec) references avgLoss twice and
    * each rollingMean embeds its own count gate, so its
    * physical Window operator evaluates SIX sliding-frame aggregates
    * (count/avg of loss twice, count/avg of gain) plus FOUR identical
    * lag(close) columns, and Spark's SlidingWindowFunctionFrame
    * re-aggregates the whole `period`-row frame per output row for each
    * of them. Staging computes each distinct aggregate once: one lag,
    * two sliding avgs, and a row_number gate (O(1)/row running frame) —
    * the count gates collapse to row_number because gain/loss are
    * never null BY CONSTRUCTION (`when(...).otherwise(0.0)` is non-null
    * even for a null delta), so count(gain) over a trailing(period)
    * frame ≡ min(row_number, period). Identical values to the Column
    * form (same arithmetic on the same aggregates — equivalence
    * spec-pinned in IndicatorsSpec); measured ~6→3 window expressions
    * on q15's plan. */
  def rsiStaged(df: DataFrame, close: Column, w: WindowSpec,
                period: Int = 14, out: String = "rsi"): DataFrame = {
    val f = trailing(w, period)
    val delta = col("_rsi_delta")
    val gain = when(delta > 0, delta).otherwise(0.0)
    val loss = when(delta < 0, -delta).otherwise(0.0)
    val gate = col("_rsi_n") >= period
    val rsiVal = when(gate && col("_rsi_al") === 0, 100.0)
      .otherwise(when(gate, round(
        lit(100.0) - lit(100.0) /
          (lit(1.0) + col("_rsi_ag") / col("_rsi_al")), 4)))
    df.withColumn("_rsi_delta", diff(close, w))
      .withColumn("_rsi_n", row_number().over(w))
      .withColumn("_rsi_ag", avg(gain).over(f))
      .withColumn("_rsi_al", avg(loss).over(f))
      .withColumn(out, rsiVal)
      .drop("_rsi_delta", "_rsi_n", "_rsi_ag", "_rsi_al")
  }

  /** True range `greatest(h-l, |h-prev_c|, |l-prev_c|)`
    * (reference: ml/feature_engineering.py:43-49). */
  def trueRange(high: Column, low: Column, close: Column,
                w: WindowSpec): Column = {
    val prevClose = lagBy(close, 1, w)
    greatest(high - low, abs(high - prevClose), abs(low - prevClose))
  }

  /** ATR(period): rolling mean of true range, pandas default
    * min_periods=period (reference: ml/feature_engineering.py:43-51). */
  def atr(high: Column, low: Column, close: Column, w: WindowSpec,
          period: Int = 14): Column =
    round(rollingMean(trueRange(high, low, close, w), period, period, w), 4)

  /** Bollinger band width(period, k σ): `(upper-lower)/sma*100`
    * (reference: ml/feature_engineering.py:54-63). sma/std use pandas
    * default min_periods=period. The window aggregates are staged as
    * columns (same rationale as [[rsiStaged]]): the pure-Column form
    * (test scope, `IndicatorColumnForms.bollingerWidth`) embeds a
    * count(close) gate in BOTH rollingMean and rollingStd, so the
    * Window operator evaluates four sliding aggregates where three are
    * distinct. The count gate stays a real count (close CAN be null in
    * general, unlike rsi's clamped gain/loss), shared by both
    * aggregates. Identical values (spec-pinned). */
  def bollingerStaged(df: DataFrame, close: Column, w: WindowSpec,
                      period: Int = 20, numStd: Double = 2.0,
                      out: String = "bb_width"): DataFrame = {
    val f = trailing(w, period)
    val gate = col("_bb_n") >= period
    val sma = when(gate, col("_bb_sma"))
    val std = when(gate, col("_bb_std"))
    df.withColumn("_bb_n", count(close).over(f))
      .withColumn("_bb_sma", avg(close).over(f))
      .withColumn("_bb_std", stddev_samp(close).over(f))
      .withColumn(out,
        round((lit(2 * numStd) * std) / nullif(sma, lit(0)) * 100, 4))
      .drop("_bb_n", "_bb_sma", "_bb_std")
  }

  /** Move-size category on |pct_change|
    * (reference: dbt_project/models/marts/fct_prices_with_grok.sql:16-20). */
  def moveCategory(pctChange: Column): Column =
    when(abs(pctChange) > 5, "large_move")
      .when(abs(pctChange) > 2, "medium_move")
      .otherwise("small_move")

  /** Day-of-week with the pandas convention Mon=0..Sun=6
    * (reference: ml/feature_engineering.py:69 `dt.dayofweek`). Spark's
    * `dayofweek` is Sun=1..Sat=7 — the +5 mod 7 shift converts; pinned by a
    * unit test (SURVEY §7.4 flags this as easy to get silently wrong). */
  def dayOfWeekMon0(date: Column): Column = (dayofweek(date) + 5) % 7

  /** Next business day: +1 day, then jump weekend to Monday
    * (reference: ml/predict.py:143-147). */
  def nextTradingDay(date: Column): Column = {
    val next = date_add(date, 1)
    // Spark dayofweek: Sun=1, Sat=7
    when(dayofweek(next) === 7, date_add(next, 2))
      .when(dayofweek(next) === 1, date_add(next, 1))
      .otherwise(next)
  }

  /** Stochastic oscillator %K(period): `(close − min low) / (max high
    * − min low) · 100` over the trailing `period` rows, pandas-default
    * min_periods=period warm-up nulls, flat-range (hi == lo) → null via
    * NULLIF — the indicator family's next rung after RSI/ATR/Bollinger
    * (same rolling-frame shape, SURVEY §2.5 W8-W10).
    *
    * Each distinct window aggregate is staged ONCE as an intermediate
    * column (the r12 rsiStaged discipline): window expressions extract
    * per textual occurrence, so the Column form (test scope,
    * `IndicatorColumnForms.stochasticK`) plans duplicate sliding
    * aggregates (q147 before-plan: 6 window exprs for %K where three
    * suffice — NULLIF and the gate each re-reference their argument).
    * Values are bit-identical (same arithmetic over the staged
    * columns; pinned in R13FusedSpec). */
  def stochasticKStaged(df: DataFrame, high: Column, low: Column,
                        close: Column, w: WindowSpec, period: Int = 14,
                        out: String = "pct_k"): DataFrame = {
    val f = trailing(w, period)
    val gate = col("_stk_n") >= period
    val lo = when(gate, col("_stk_lo"))
    val hi = when(gate, col("_stk_hi"))
    df.withColumn("_stk_n", count(low).over(f))
      .withColumn("_stk_lo", min(low).over(f))
      .withColumn("_stk_hi", max(high).over(f))
      .withColumn(out,
        round((close - lo) / nullif(hi - lo, lit(0)) * 100, 4))
      .drop("_stk_n", "_stk_lo", "_stk_hi")
  }

  /** %D(smooth): SMA of the ROUNDED %K (both engines smooth the same
    * 4dp values — keeps the oracle fold identical), min_periods=smooth
    * so warm-up and flat-range nulls cascade. */
  def stochasticD(k: Column, w: WindowSpec, smooth: Int = 3): Column =
    round(rollingMean(k, smooth, smooth, w), 4)

  /** Donchian channel(period): highest high / lowest low over the
    * PRIOR `period` rows (frame excludes the current row, so a new
    * extreme reads as a breakout of the previous channel), with
    * breakout flags close > upper (+1) / close < lower (−1) / else 0.
    * Warm-up rows (fewer than `period` prior rows) are null, pandas
    * min_periods-style. Returns (upper, lower, signal). */
  def donchian(high: Column, low: Column, close: Column,
               w: WindowSpec, period: Int = 20)
      : (Column, Column, Column) = {
    val f = w.rowsBetween(-period, -1)
    val gate = count(high).over(f) >= period
    val upper = when(gate, max(high).over(f))
    val lower = when(gate, min(low).over(f))
    val signal = when(close > upper, 1L).when(close < lower, -1L)
      .otherwise(lit(0L))
    (upper, lower, when(gate, signal))
  }

  /** Williams %R(period): `(max high − close) / (max high − min low)
    * · −100` over the trailing `period` rows INCLUDING the current row
    * (the classic lookback), pandas-default min_periods=period warm-up
    * nulls, flat range → null via NULLIF. The bounded-[−100,0] mirror
    * of stochastic %K.
    *
    * Each distinct window aggregate is staged ONCE (the r12 rsiStaged
    * discipline — see [[stochasticKStaged]]): the Column form (test
    * scope, `IndicatorColumnForms.williamsR`) planned count ×3 / max
    * ×2 / min ×1 (q167 before-plan) where three aggregates suffice.
    * Values bit-identical (pinned in R13FusedSpec). */
  def williamsRStaged(df: DataFrame, high: Column, low: Column,
                      close: Column, w: WindowSpec, period: Int = 14,
                      out: String = "wr"): DataFrame = {
    val f = trailing(w, period)
    val gate = col("_wr_n") >= period
    val hi = when(gate, col("_wr_hi"))
    val lo = when(gate, col("_wr_lo"))
    df.withColumn("_wr_n", count(high).over(f))
      .withColumn("_wr_hi", max(high).over(f))
      .withColumn("_wr_lo", min(low).over(f))
      .withColumn(out,
        round((hi - close) / nullif(hi - lo, lit(0)) * -100, 4))
      .drop("_wr_n", "_wr_hi", "_wr_lo")
  }

  /** Commodity Channel Index(period): `(tp − SMA(tp)) / (0.015 · MD)`
    * where tp = (high+low+close)/3 and MD is the mean ABSOLUTE deviation
    * of the window's tp values from the window's OWN SMA (Lambert's
    * original definition). MD is not a decomposable rolling aggregate
    * (each |tp_i − sma_t| depends on the current row's sma), so the
    * window's tp values are gathered with collect_list over the bounded
    * `period`-row frame and folded with the `aggregate` HOF — O(period)
    * per row, codegen'd, no UDF. Warm-up rows and zero-MD windows → null. */
  def cci(high: Column, low: Column, close: Column,
          w: WindowSpec, period: Int = 20): Column = {
    val tp = (high + low + close) / 3
    val f = trailing(w, period)
    val gate = count(high).over(f) >= period
    val sma = avg(tp).over(f)
    val window = collect_list(tp).over(f)
    val md = aggregate(window, lit(0.0),
      (acc, x) => acc + abs(x - sma)) / period
    round(when(gate, (tp - sma) / nullif(lit(0.015) * md, lit(0))), 4)
  }

  /** Money Flow Index(period): volume-weighted RSI analogue. Typical
    * price tp = (high+low+close)/3; raw flow tp·volume splits positive /
    * negative on tp vs the PREVIOUS tp (flat → neither); MFI = 100 −
    * 100/(1 + Σpos/Σneg) over the trailing `period` rows. Warm-up needs
    * `period` rows that HAVE a previous tp (the first diff is undefined),
    * zero negative flow → 100 explicitly (the RSI avg_loss==0 case). */
  def mfi(high: Column, low: Column, close: Column, volume: Column,
          w: WindowSpec, period: Int = 14): Column = {
    val tp = (high + low + close) / 3
    val prevTp = lagBy(tp, 1, w)
    val flow = tp * volume
    val pos = when(prevTp.isNotNull && tp > prevTp, flow).otherwise(0.0)
    val neg = when(prevTp.isNotNull && tp < prevTp, flow).otherwise(0.0)
    val f = trailing(w, period)
    val gate = count(prevTp).over(f) >= period
    val sPos = sum(pos).over(f)
    val sNeg = sum(neg).over(f)
    val mfiVal = when(sNeg === 0, 100.0)
      .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + sPos / sNeg))
    round(when(gate, mfiVal), 4)
  }

  /** Chaikin Money Flow(period): Σ(MFM·volume) / Σvolume over the
    * trailing `period` rows, where the money-flow multiplier
    * MFM = ((close−low) − (high−close)) / (high−low). A flat bar
    * (high == low) has an undefined multiplier — its flow contributes 0
    * but its volume still counts in the denominator (the standard
    * convention). min_periods = period warm-up nulls. */
  def cmf(high: Column, low: Column, close: Column, volume: Column,
          w: WindowSpec, period: Int = 20): Column = {
    val mfm = ((close - low) - (high - close)) / nullif(high - low, lit(0))
    val mfv = coalesce(mfm * volume, lit(0.0))
    val f = trailing(w, period)
    val gate = count(high).over(f) >= period
    round(when(gate, sum(mfv).over(f) / sum(volume).over(f)), 4)
  }

  /** Ulcer Index(period): RMS of the percentage drawdown from the
    * trailing `period`-row high — `√(Σ dd² / period)` with
    * `dd = 100·(close − max close)/max close`. Penalizes depth AND
    * duration of drawdowns, unlike σ. min_periods = period. */
  def ulcerIndex(close: Column, w: WindowSpec, period: Int = 14): Column = {
    val f = trailing(w, period)
    val gate = count(close).over(f) >= period
    val peak = max(close).over(f)
    // each dd_i is measured against the WINDOW's max, which depends on
    // the current row — not a decomposable rolling aggregate (same shape
    // as [[cci]]'s MD term), so fold the bounded window list
    val win = collect_list(close).over(f)
    val ssq = aggregate(win, lit(0.0), (acc, c) => {
      val d = lit(100.0) * (c - peak) / peak
      acc + d * d
    })
    round(when(gate, sqrt(ssq / period)), 4)
  }

  /** Garman-Klass OHLC volatility: per-bar estimator
    * `0.5·ln(H/L)² − (2ln2−1)·ln(C/O)²`, rolling-averaged over
    * `period` full windows, √ then 4dp. Uses the full bar range, so
    * it is ~7× more efficient than close-close σ on the same sample.
    * The constant folds from the identical `2·ln(2)−1` expression on
    * both engines; the windowed mean folds in frame order. */
  def garmanKlass(open: Column, high: Column, low: Column,
                  close: Column, w: WindowSpec,
                  period: Int = 20): Column = {
    val u = log(high / low)
    val c = log(close / open)
    // the estimator needs positive prices (the fixture's value stream
    // can touch 0/negative): non-positive bars yield null and fall out
    // of the window COUNT gate on both engines
    val ok = open > 0 && high > 0 && low > 0 && close > 0
    val gk = when(ok,
      lit(0.5) * u * u - (lit(2.0) * log(lit(2.0)) - 1.0) * c * c)
    val f = trailing(w, period)
    // a pathological window can average negative (the cross term) —
    // null beats NaN for the cross-engine compare
    round(when(count(gk).over(f) >= period && avg(gk).over(f) >= 0,
      sqrt(avg(gk).over(f))), 4)
  }

  /** On-balance volume: cumulative signed volume, +v on an up-close,
    * −v on a down-close, 0 on the first/flat row. All-integer window
    * arithmetic (volume is a count) — no fp rounding anywhere. */
  def obv(close: Column, volume: Column, w: WindowSpec): Column = {
    val d = diff(close, w)
    val signed = when(d > 0, volume).when(d < 0, -volume)
      .otherwise(lit(0L))
    sum(signed).over(
      w.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow))
  }

  /** Directional movement system (Wilder's ADX, rolling-sum form —
    * the same simple-rolling variant [[rsiStaged]] adopts from the
    * reference's pandas code): `+DM/−DM` from consecutive extremes,
    * `DI± = 100·ΣDM±/ΣTR`, `DX = 100·|DI₊−DI₋|/(DI₊+DI₋)`, ADX its
    * rolling mean. Returns (di_plus, di_minus, adx) columns. */
  def adx(high: Column, low: Column, close: Column, w: WindowSpec,
          period: Int = 14): (Column, Column, Column) = {
    val up = high - lagBy(high, 1, w)
    val dn = lagBy(low, 1, w) - low
    val dmP = when(up > dn && up > 0, up).otherwise(0.0)
    val dmM = when(dn > up && dn > 0, dn).otherwise(0.0)
    val tr = trueRange(high, low, close, w)
    val sTr = rollingSum(tr, period, period, w)
    val sP = rollingSum(dmP, period, period, w)
    val sM = rollingSum(dmM, period, period, w)
    val diP = lit(100.0) * sP / nullif(sTr, lit(0.0))
    val diM = lit(100.0) * sM / nullif(sTr, lit(0.0))
    val dx = lit(100.0) * abs(diP - diM) / nullif(diP + diM, lit(0.0))
    (round(diP, 4), round(diM, 4),
      round(rollingMean(dx, period, period, w), 4))
  }

  /** Vortex indicator: `VI+ = Σ|H−L_prev|/ΣTR`,
    * `VI− = Σ|L−H_prev|/ΣTR` over a trailing `period` frame —
    * trend-change oscillator from crossing VM sums. */
  def vortex(high: Column, low: Column, close: Column, w: WindowSpec,
             period: Int = 14): (Column, Column) = {
    val vmP = abs(high - lagBy(low, 1, w))
    val vmM = abs(low - lagBy(high, 1, w))
    val tr = trueRange(high, low, close, w)
    val sTr = nullif(rollingSum(tr, period, period, w), lit(0.0))
    (round(rollingSum(vmP, period, period, w) / sTr, 4),
      round(rollingSum(vmM, period, period, w) / sTr, 4))
  }
}
