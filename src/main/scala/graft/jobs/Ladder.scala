package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Staging
import graft.functions.{TextClean, TextFns}

/** The spine both corpus ladders share ([[CorpusPrepJob]] rebuilds,
  * [[IncrementalIngestJob]] ingests a batch): the staged runner with
  * its per-stage row ledger, and the map-side prep prefix every doc
  * passes before anything hashes or tokenizes it. The caller owns the
  * last staged frame: [[Staging.release]] frees it. */
private[graft] final class Ladder {
  private val entries =
    scala.collection.mutable.ListBuffer.empty[(String, Long)]
  private val pending = scala.collection.mutable.ListBuffer.empty[String]
  private var previous: DataFrame = null

  /** `df` with its row count observed under `name`: the count lands in
    * the ledger from the job that stages `df` or a frame built on it.
    * A named `observe`, read back from the staged query's own metrics:
    * an `Observation` would set the session's `ObservationManager`,
    * which is not serializable, and every later task whose closure
    * captures the session (MLlib's logistic-regression scoring UDF
    * does) would fail with "Task not serializable". */
  private def observed(name: String, df: DataFrame): DataFrame = {
    pending += name
    df.observe(Ladder.RddPrefix + name, count(lit(1)).as("rows"))
  }

  /** Stage `df` — one eager job, lineage cut ([[Staging.checkpoint]]) —
    * record its row count under `name` (with every count observed
    * since the last stage, in order), then release the PREDECESSOR's
    * blocks: only the live frontier (and the returned final frame)
    * stays in executor memory, and no stage's plan carries the plans
    * before it. */
  def stage(name: String, df: DataFrame): DataFrame = {
    val counted = observed(name, df)
    val staged = Staging.checkpoint(counted,
      name = Some(Ladder.RddPrefix + name))
    val rows = counted.queryExecution.observedMetrics
    entries ++= pending.map(n => n -> rows(Ladder.RddPrefix + n).getLong(0))
    pending.clear()
    if (previous != null) Staging.release(previous)
    previous = staged
    staged
  }

  /** Row count of the last staged frame. */
  def lastCount: Long = entries.last._2

  def ledger: List[(String, Long)] = entries.toList

  /** input → canonicalized → scrubbed → quality_gate, pure maps in that
    * order, staged as ONE frame whose four counts are observed in its
    * one job: text prep before the quality score, so both ladders gate
    * and later hash the same prepped text. */
  def prep(docs: DataFrame, minQuality: Double): DataFrame = {
    val input = observed("input", docs.select(
      col("doc_id"), col("text"), col("lang"), col("source")))
    val prepped = Ladder.textSteps.foldLeft(input) {
      case (df, (name, step)) =>
        observed(name, df.withColumn("text", step(col("text"))))
    }
    stage("quality_gate", prepped
      .filter(TextFns.qualityScore(col("text")) >= minQuality))
  }
}

private[graft] object Ladder {

  /** Name prefix of the RDDs a ladder stages, as they show in
    * `SparkContext.getPersistentRDDs`, and of its observed metrics. */
  val RddPrefix = "ladder:"

  /** The text transforms, in stage order. Unicode class
    * canonicalization comes first so visually identical docs hash
    * identically; it leaves whitespace alone because the scrub (PII
    * masks, then whitespace collapse) ends with the collapse. */
  private val textSteps: Seq[(String, Column => Column)] = Seq(
    "canonicalized" -> TextClean.canonicalizeClasses,
    "scrubbed" -> TextClean.scrub)

  /** The ladders' text prep as one unstaged column rewrite, without the
    * quality gate: the text a prior rebuild leaves in persisted state,
    * prepped exactly like every batch [[Ladder.prep]] stages. */
  def prepText(docs: DataFrame): DataFrame =
    docs.withColumn("text", textSteps.foldLeft(col("text")) {
      case (c, (_, step)) => step(c)
    })
}
