package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import graft.functions.WindowFns._

/** Reference formulations of the indicators whose production forms are
  * staged ([[graft.functions.Indicators]] `rsiStaged`, `bollingerStaged`,
  * `stochasticKStaged`, `williamsRStaged`): the same arithmetic written
  * as single Column expressions. Catalyst extracts one window
  * expression per textual occurrence, so these plan duplicate sliding
  * aggregates; the specs pin the staged forms to them cell for cell. */
object IndicatorColumnForms {

  /** RSI(period) (reference: ml/feature_engineering.py:32-40).
    * delta = diff(close); gain/loss = clamped positive/negative parts;
    * rolling means use the pandas DEFAULT min_periods=period, so the
    * first `period-1` rows (0-based) are null and the first valid RSI is
    * at row index period-1 — exactly pandas. Note the reference's
    * `delta.where(delta > 0, 0)` CLAMPS the NaN first diff to 0 (NaN > 0
    * is False in pandas), so `otherwise(0.0)` here is parity, not a
    * deviation; the rolling count therefore includes the first row.
    * Pinned against a precomputed pandas vector in IndicatorsSpec.
    * pandas yields RSI=100 when avg_loss==0 (gain/0 → inf →
    * 100-100/(1+inf)); we make that explicit instead of relying on
    * float inf. */
  def rsi(close: Column, w: WindowSpec, period: Int = 14): Column = {
    val delta = diff(close, w)
    val gain = when(delta > 0, delta).otherwise(0.0)
    val loss = when(delta < 0, -delta).otherwise(0.0)
    val avgGain = rollingMean(gain, period, period, w)
    val avgLoss = rollingMean(loss, period, period, w)
    val rsiVal = when(avgLoss === 0, 100.0)
      .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + avgGain / avgLoss))
    round(rsiVal, 4)
  }

  /** Bollinger band width(period, k σ): `(upper-lower)/sma*100`
    * (reference: ml/feature_engineering.py:54-63). sma/std use pandas
    * default min_periods=period. */
  def bollingerWidth(close: Column, w: WindowSpec, period: Int = 20,
                     numStd: Double = 2.0): Column = {
    val sma = rollingMean(close, period, period, w)
    val std = rollingStd(close, period, period, w)
    round((lit(2 * numStd) * std) / nullif(sma, lit(0)) * 100, 4)
  }

  /** Stochastic oscillator %K(period): `(close − min low) / (max high
    * − min low) · 100` over the trailing `period` rows, pandas-default
    * min_periods=period warm-up nulls, flat-range (hi == lo) → null via
    * NULLIF — the indicator family's next rung after RSI/ATR/Bollinger
    * (same rolling-frame shape, SURVEY §2.5 W8-W10). */
  def stochasticK(high: Column, low: Column, close: Column,
                  w: WindowSpec, period: Int = 14): Column = {
    val f = trailing(w, period)
    val gate = count(low).over(f) >= period
    val lo = when(gate, min(low).over(f))
    val hi = when(gate, max(high).over(f))
    round((close - lo) / nullif(hi - lo, lit(0)) * 100, 4)
  }

  /** Williams %R(period): `(max high − close) / (max high − min low)
    * · −100` over the trailing `period` rows INCLUDING the current row
    * (the classic lookback), pandas-default min_periods=period warm-up
    * nulls, flat range → null via NULLIF. The bounded-[−100,0] mirror
    * of stochastic %K. */
  def williamsR(high: Column, low: Column, close: Column,
                w: WindowSpec, period: Int = 14): Column = {
    val f = trailing(w, period)
    val gate = count(high).over(f) >= period
    val hi = when(gate, max(high).over(f))
    val lo = when(gate, min(low).over(f))
    round((hi - close) / nullif(hi - lo, lit(0)) * -100, 4)
  }
}
