package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew handling for hot keys at cluster scale: the candidate-pair
  * self-join every pair generator runs, and a per-key skew profile that
  * shows whether a join key is hot before the join runs. */
object SkewTools {

  /** Candidate pairs: `df` self-joined on `keys`, keeping the rows
    * whose first `sides` column is smaller on the `_a` side than on the
    * `_b` side. Output: the `keys`, then every `sides` column twice,
    * suffixed `_a` and `_b`. Dedup (band buckets, shingle postings),
    * ANN (LSH buckets), PMI (doc ids) and pair correlation (dates) all
    * build their pairs here.
    *
    * The join reads one repartition on `keys` at the session's shuffle
    * parallelism, an EXPLICIT count. Pair generation is quadratic
    * output from small input, and AQE's size-first coalescing reads the
    * tiny PRE-join byte count and collapses the join to a handful of
    * tasks that then each carry millions of pairs (measured on the
    * SemDeDup join: 510 s single-task vs seconds wide — BASELINE.md
    * round 6). A user-specified partition count is exempt from
    * coalescing, and both sides of the join reuse this one exchange, so
    * the only cost is pinning the parallelism the join would have wanted
    * anyway. Where `df` already arrives hash-partitioned on `keys` at
    * that width (a window over the same keys), the planner drops the
    * repartition and the join reads the earlier exchange instead. */
  def selfPairs(df: DataFrame, keys: Seq[String],
                sides: Seq[String]): DataFrame = {
    val pinned = df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions,
      keys.map(col): _*)
    def side(s: String): DataFrame = pinned.select(keys.map(col) ++
      sides.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), keys)
      .filter(col(s"${sides.head}_a") < col(s"${sides.head}_b"))
  }

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
