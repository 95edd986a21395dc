package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextClean, TextFns}

/** The spine both corpus ladders share ([[CorpusPrepJob]] rebuilds,
  * [[IncrementalIngestJob]] ingests a batch): the staged runner with
  * its per-stage row ledger, and the map-side prep prefix every doc
  * passes before anything hashes or tokenizes it.
  *
  * `timer`, when set, receives each stage's materialization wall time
  * (name, seconds) — the [[IncrementalIngestJob.stageTimer]] seam. */
private[graft] final class Ladder(
    timer: Option[(String, Double) => Unit] = None) {
  private val entries =
    scala.collection.mutable.ListBuffer.empty[(String, Long)]
  private var previous: DataFrame = null

  /** Cache `df` for its own count and the next stage's build, record
    * the count under `name`, then unpersist the PREDECESSOR — only the
    * live frontier (and the returned final frame) stays pinned in
    * executor memory. */
  def stage(name: String, df: DataFrame): DataFrame = {
    val cached = df.cache()
    val t0 = System.nanoTime()
    entries += name -> cached.count()
    timer.foreach(_(name, (System.nanoTime() - t0) / 1e9))
    if (previous != null) previous.unpersist()
    previous = cached
    cached
  }

  /** Row count of the last staged frame. */
  def lastCount: Long = entries.last._2

  def ledger: List[(String, Long)] = entries.toList

  /** input → canonicalized → scrubbed → quality_gate, each a pure map
    * staged in that order: text prep before the quality score, so both
    * ladders gate and later hash the same prepped text. */
  def prep(docs: DataFrame, minQuality: Double): DataFrame = {
    val input = stage("input", docs.select(
      col("doc_id"), col("text"), col("lang"), col("source")))
    val prepped = Ladder.textSteps.foldLeft(input) {
      case (df, (name, step)) =>
        stage(name, df.withColumn("text", step(col("text"))))
    }
    stage("quality_gate", prepped
      .filter(TextFns.qualityScore(col("text")) >= minQuality))
  }
}

private[graft] object Ladder {

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
