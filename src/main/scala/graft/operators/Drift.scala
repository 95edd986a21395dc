package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring over a dated numeric column — the
  * check a scoring pipeline runs before trusting a model trained on
  * last month's data (reference scope: the eval stage after
  * ml/train.py; drift is the standard next step once calibration
  * (q176) is in place).
  *
  * [[psi]] is the classic Population Stability Index between the
  * first and second half of the observation window:
  * `PSI = Σ_bins (p_actual − p_expected) · ln(p_actual/p_expected)`
  * with Laplace +1 smoothing so empty bins stay finite. All rounding
  * runs through the deterministic integer/DECIMAL bridges (scaled
  * 8dp proportions, 6dp micro-nat log factors, half-up 4dp output) so
  * both engines agree bit-for-bit — the double path lands on decimal
  * ties for real count ratios.
  *
  * Scale shape: one tiny global-extent aggregate broadcast back, one
  * (bin, period) hash aggregate over the data (map-side partials,
  * `bins × 2` groups), and a `bins`-row driver-free grid join — the
  * scan stays linear and nothing shuffles by more than the bounded
  * bin key. */
object Drift {

  /** Per-bin PSI table: equal-width bins over the global value range,
    * expected = rows on/before the midpoint date, actual = after.
    * Emits smoothed counts, 8dp proportions, the 4dp per-bin term and
    * the 4dp total (repeated per row — the table IS the report). */
  def psi(df: DataFrame, valueCol: String = "score",
          dateCol: String = "date", bins: Int = 10): DataFrame = {
    val ext = df.agg(
      min(col(valueCol)).as("vmin"), max(col(valueCol)).as("vmax"),
      min(col(dateCol)).as("dmin"), max(col(dateCol)).as("dmax"))
    val withExt = df.crossJoin(broadcast(ext))
    val mid = date_add(col("dmin"),
      floor(datediff(col("dmax"), col("dmin")) / 2).cast("int"))
    // identical double ops on both engines: ((v - vmin) * bins) / span
    val rawBin = floor(((col(valueCol) - col("vmin")) * bins)
      / (col("vmax") - col("vmin")))
    val bin = when(col("vmax") === col("vmin"), lit(0L))
      .otherwise(least(rawBin, lit(bins - 1)).cast("long"))
    val counts = withExt
      .withColumn("bin", bin)
      .withColumn("period",
        when(col(dateCol) <= mid, lit("e")).otherwise(lit("a")))
      .groupBy(col("bin"), col("period")).agg(count(lit(1)).as("c"))
    val grid = ext.select(
      explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
    def side(p: String, as: String) = counts.where(col("period") === p)
      .select(col("bin"), col("c").as(as))
    // Laplace +1 per bin keeps ln finite when a bin is empty one side
    val wide = grid
      .join(side("e", "ce0"), Seq("bin"), "left")
      .join(side("a", "ca0"), Seq("bin"), "left")
      .select(col("bin"),
        (coalesce(col("ce0"), lit(0L)) + 1).as("ce"),
        (coalesce(col("ca0"), lit(0L)) + 1).as("ca"))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val tot = wide
      .withColumn("ne", sum(col("ce")).over(all))
      .withColumn("na", sum(col("ca")).over(all))
    val pe8 = graft.functions.ExactRound.scaled(col("ce"), col("ne"), 8)
    val pa8 = graft.functions.ExactRound.scaled(col("ca"), col("na"), 8)
    val ln6 = round(log((col("ca") * col("ne")).cast("double")
      / (col("ce") * col("na"))), 6).cast("decimal(10,6)")
    // term = Δp(8dp-scaled) × ln(6dp) as DECIMAL — contribution·10⁸
    val term = ((pa8 - pe8).cast("decimal(12,0)") * ln6)
      .cast("decimal(28,6)")
    def half4(su: org.apache.spark.sql.Column) =
      graft.functions.ExactRound.signedScaled(su, lit(10000000000L), 0)
        .cast("double") / 10000
    val scored = tot.withColumn("_t", term)
      .withColumn("_s", sum(col("_t")).over(all))
    scored.select(col("bin"),
      col("ce").as("c_expected"), col("ca").as("c_actual"),
      (pe8.cast("double") / 100000000L).as("p_expected"),
      (pa8.cast("double") / 100000000L).as("p_actual"),
      half4((col("_t") * 1000000).cast("long")).as("psi_term"),
      half4((col("_s") * 1000000).cast("long")).as("psi"))
  }

  /** Two-sample Kolmogorov-Smirnov drift between the window halves —
    * the NONPARAMETRIC complement of [[psi]] (no bins, no smoothing):
    * `D = max_v |F₁(v) − F₂(v)|` over every distinct value, computed
    * ALL-INTEGER as `max|cum₁·n₂ − cum₂·n₁|` with one exact bridge
    * ratio at the end (the [[ModelEval.ks]] machinery pointed at time
    * halves instead of labels). The cumulative window runs over
    * DISTINCT values — bounded for 4dp-rounded series; pre-bin first
    * at truly continuous scale. One row out. */
  def ksTwoSample(df: DataFrame, valueCol: String = "score",
                  dateCol: String = "date"): DataFrame = {
    val ext = df.agg(min(col(dateCol)).as("dmin"),
      max(col(dateCol)).as("dmax"))
    val mid = date_add(col("dmin"),
      floor(datediff(col("dmax"), col("dmin")) / 2).cast("int"))
    val tagged = df.crossJoin(broadcast(ext))
      .withColumn("h1",
        when(col(dateCol) <= mid, 1L).otherwise(0L))
    val perV = tagged.groupBy(col(valueCol).as("v"))
      .agg(sum(col("h1")).cast("long").as("c1"),
        (count(lit(1)) - sum(col("h1"))).cast("long").as("c2"))
    val cumW = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.orderBy(col("v")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = perV
      .withColumn("k1", sum(col("c1")).over(cumW).cast("long"))
      .withColumn("k2", sum(col("c2")).over(cumW).cast("long"))
      .withColumn("n1", sum(col("c1")).over(totW).cast("long"))
      .withColumn("n2", sum(col("c2")).over(totW).cast("long"))
    cum.groupBy()
      .agg(max(col("n1")).as("n_first"), max(col("n2")).as("n_second"),
        max(abs(col("k1") * col("n2") - col("k2") * col("n1")))
          .as("dnum"))
      .select(col("n_first"), col("n_second"),
        graft.functions.ExactRound.ratio(col("dnum"),
          greatest(col("n_first") * col("n_second"), lit(1L)), 4)
          .as("ks"))
  }
}
