package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Keyed-time-series window helpers.
  *
  * Reproduces the reference's per-key ordered-sequence semantics
  * (reference: dbt_project/models/staging/stg_stock_prices.sql:11-13 LAG;
  * ml/feature_engineering.py:74-93 groupwise shift/rolling) as Spark window
  * expressions. Every helper is a pure `Column` function so it stays inside
  * whole-stage codegen; nothing here forces a custom physical operator.
  *
  * Scale note: all windows partition by the series key, so the single
  * shuffle they induce is by that key; chained window expressions over the
  * same (partition, order) reuse one sort/exchange in the physical plan.
  */
object WindowFns {

  /** `PARTITION BY key ORDER BY time...` — the canonical series window.
    * Pass a tiebreak column (e.g. an id) after the time column so the
    * ordering is total and results are deterministic. */
  def series(key: Column, time: Column*): WindowSpec =
    Window.partitionBy(key).orderBy(time: _*)

  /** Trailing row frame of `n` rows ending at the current row. */
  def trailing(w: WindowSpec, n: Int): WindowSpec =
    w.rowsBetween(-(n - 1L), Window.currentRow)

  /** pandas `shift(k)` / SQL LAG. */
  def lagBy(c: Column, k: Int, w: WindowSpec): Column = lag(c, k).over(w)

  /** pandas `shift(-k)` / SQL LEAD
    * (reference: ml/feature_engineering.py:164 target shift(-1)). */
  def leadBy(c: Column, k: Int, w: WindowSpec): Column = lead(c, k).over(w)

  /** pandas `diff()` (reference: ml/feature_engineering.py:34). */
  def diff(c: Column, w: WindowSpec): Column = c - lag(c, 1).over(w)

  /** n-period percent change ×100
    * (reference: ml/feature_engineering.py:116-118 `pct_change(n)*100`).
    * Null-safe on zero denominators (SQL NULLIF twin). */
  def pctChange(c: Column, n: Int, w: WindowSpec): Column = {
    val prev = lag(c, n).over(w)
    (c - prev) / nullif(prev, lit(0)) * 100
  }

  /** Rolling mean over a trailing `n`-row frame with pandas `min_periods`
    * semantics: null until at least `minPeriods` non-null values are in the
    * frame (reference: ml/feature_engineering.py:35-36,50,56 use the pandas
    * default min_periods=window; :83-93,134-136 pass min_periods=1). */
  def rollingMean(c: Column, n: Int, minPeriods: Int, w: WindowSpec): Column = {
    val f = trailing(w, n)
    if (minPeriods <= 1) avg(c).over(f)
    else when(count(c).over(f) >= minPeriods, avg(c).over(f))
  }

  /** Rolling sample std-dev (pandas ddof=1) over a trailing frame.
    * `stddev_samp` of a 1-row frame is null in Spark, matching pandas NaN
    * for a 1-row window even with min_periods=1 (SURVEY §2.5 W6). */
  def rollingStd(c: Column, n: Int, minPeriods: Int, w: WindowSpec): Column = {
    val f = trailing(w, n)
    if (minPeriods <= 1) stddev_samp(c).over(f)
    else when(count(c).over(f) >= minPeriods, stddev_samp(c).over(f))
  }

  /** Rolling sum with min_periods semantics. */
  def rollingSum(c: Column, n: Int, minPeriods: Int, w: WindowSpec): Column = {
    val f = trailing(w, n)
    if (minPeriods <= 1) sum(c).over(f)
    else when(count(c).over(f) >= minPeriods, sum(c).over(f))
  }

  /** Last row per key — pandas `groupby(k).tail(1)`
    * (reference: ml/predict.py:135). Implemented as max_by over a struct so
    * it is a single hash aggregation (no sort, no row_number shuffle+filter).
    * `ord` must be a totally-ordering struct/column within the key. */
  def latestPerKey(df: org.apache.spark.sql.DataFrame, key: Seq[String],
                  ord: Column): org.apache.spark.sql.DataFrame = {
    val valueCols = df.columns.filterNot(key.contains)
    val packed = struct(valueCols.map(col).toIndexedSeq: _*)
    df.groupBy(key.map(col): _*)
      .agg(max_by(packed, ord).as("_latest"))
      .select(key.map(col) ++ valueCols.map(c => col(s"_latest.$c").as(c)): _*)
  }
}
