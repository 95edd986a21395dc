package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew handling for hot keys at cluster scale: an explicit-width
  * repartition for high-fan-out self-joins, and a per-key skew profile
  * that shows whether a join key is hot before the join runs. */
object SkewTools {

  /** Repartition on join keys with the session's shuffle parallelism
    * as an EXPLICIT count. For a high-fan-out self-join (candidate
    * pair generation: quadratic output from small input), AQE's
    * size-first coalescing reads the tiny PRE-join byte count and
    * collapses the join to a handful of tasks that then each carry
    * millions of pairs (measured on the SemDeDup join: 510 s
    * single-task vs seconds wide — BASELINE.md round 6). A
    * user-specified partition count is exempt from coalescing, and the
    * join reuses this exchange, so the only cost is pinning the
    * parallelism the join would have wanted anyway. */
  def fanoutRepartition(df: org.apache.spark.sql.DataFrame,
                        keys: Column*): org.apache.spark.sql.DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)

  /** Join-key skew profile — the diagnostic that decides whether
    * AQE skew handling is needed BEFORE the join ships: per-key
    * frequencies folded to one summary row per labeled key (n_keys,
    * rows, hottest key and its count, the exact-disc p99 frequency,
    * and the exact skew factor max/mean = max·n_keys/rows). Two hash
    * aggregates per key column. */
  def keySkewProfile(labeled: Seq[(String, DataFrame, String)])
      : DataFrame = {
    val parts = labeled.map { case (label, df, keyCol) =>
      val counts = df.groupBy(col(keyCol).cast("long").as("k"))
        .agg(count(lit(1)).cast("long").as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").asc, col("k").asc)
      val ranked = counts.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      ranked.agg(count(lit(1)).cast("long").as("n_keys"),
          sum(col("c")).cast("long").as("n_rows"),
          max(struct(col("c").as("c"), col("k").as("k"))).as("hot"),
          max(when(col("rn") === call_function("div",
            col("n") * 99 + 99, lit(100L)), col("c"))).as("p99_freq"))
        .select(lit(label).as("key_label"), col("n_keys"),
          col("n_rows"), col("hot.k").as("hottest_key"),
          col("hot.c").as("hottest_count"),
          col("p99_freq").cast("long").as("p99_freq"),
          graft.functions.ExactRound.ratio(
            col("hot.c") * col("n_keys"), col("n_rows"), 4)
            .as("skew_factor"))
    }
    parts.reduce(_.union(_))
  }
}
