package graft.ml

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Experiment-run registry + best-run search (reference:
  * ml/mlflow_utils.py:32-241 — run logging, and the best-run-by-metric
  * search at :175-198 `search_runs(order_by=[metric DESC], max_results=1)`).
  *
  * The registry is a plain parquet `runs` table in the warehouse (the
  * SURVEY-sanctioned substitute for a tracking server): one row per
  * (run, metric) in LONG format — the mlflow metrics shape — so new
  * metric names never migrate the schema and per-metric search is a
  * filter, not a column lookup.
  *
  * Search semantics are total-ordered: metric value (desc for maximize),
  * then `created_at` desc (newest run wins a tie, matching the
  * reference's start_time ordering), then `run_id` as the final
  * deterministic tiebreak. `bestRun` is a filter + TakeOrdered(1) —
  * no full sort, no shuffle of the runs table beyond the top-1 merge —
  * and `leaderboard` ranks every run per metric in one window pass.
  */
object RunRegistry {

  /** Append one run's metric set to the registry table at `dir`. */
  def append(spark: SparkSession, dir: String, runId: String,
             modelType: String, createdAt: Timestamp,
             metrics: Map[String, Double]): Unit = {
    import spark.implicits._
    metrics.toSeq
      .map { case (m, v) => (runId, modelType, createdAt, m, v) }
      .toDF("run_id", "model_type", "created_at", "metric", "value")
      .repartition(1) // a run's handful of metric rows: one small file
      .write.mode("append").parquet(dir)
  }

  def runs(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, dir)

  /** The reference's get-best-run: top run for `metric`, newest first on
    * value ties. Returns (run_id, model_type, created_at, value). */
  def bestRun(runs: DataFrame, metric: String,
              maximize: Boolean = true): DataFrame = {
    val byValue = if (maximize) col("value").desc else col("value").asc
    runs.filter(col("metric") === metric)
      .orderBy(byValue, col("created_at").desc, col("run_id"))
      .limit(1)
      .select(col("run_id"), col("model_type"), col("created_at"),
        col("value"))
  }

  /** Per-metric ranking of every run (rank 1 = best): the search surface
    * behind "compare my runs" dashboards. One window pass, partitioned
    * by metric — at scale each metric's runs rank independently. */
  def leaderboard(runs: DataFrame,
                  maximize: Boolean = true): DataFrame = {
    val byValue = if (maximize) col("value").desc else col("value").asc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("metric"))
      .orderBy(byValue, col("created_at").desc, col("run_id"))
    runs.withColumn("rank", row_number().over(w).cast("long"))
  }
}
