package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.TextFns

/** The reference's one non-relational stage: per-row LLM enrichment
  * (stock_grok_pipeline.py:211-257) behind a provider abstraction
  * (SURVEY §2.1 S8).
  *
  * The pipeline shape is fully relational on both sides of the provider:
  * anti-join delta detection picks the rows still needing enrichment
  * (J4), the provider maps a prompt column to a raw JSON reply column,
  * and from_json + lower-casing decode it (F-JSON, F-LOWER). Tests and
  * fixtures use deterministic providers; a live HTTP client would slot in
  * behind the same trait without touching the plan.
  */
object Enrichment {

  /** Reply payload schema {explanation, sentiment, topic}
    * (init.sql:17-26). */
  val replySchema: StructType =
    StructType.fromDDL("explanation STRING, sentiment STRING, topic STRING")

  /** Maps a frame with a `prompt` column to the same frame plus a
    * `raw_reply` JSON string column. Implementations must be
    * partition-local (no driver round-trips). */
  trait SentimentProvider extends Serializable {
    def enrich(prompts: DataFrame): DataFrame
  }

  /** Deterministic stub provider: classifies by the sign/magnitude of the
    * pct_change embedded in the prompt frame — replay-style, zero I/O,
    * pure column expressions (the fixture analog of the reference's
    * grok_explanations_backup.csv replay). */
  object DeterministicProvider extends SentimentProvider {
    def enrich(prompts: DataFrame): DataFrame = {
      val pct = col("pct_change")
      val sentiment = when(pct > 1, "positive")
        .when(pct < -1, "negative").otherwise("neutral")
      val topic = when(abs(pct) > 5, "volatility")
        .when(abs(pct) > 2, "momentum").otherwise("steady")
      prompts.withColumn("raw_reply",
        to_json(struct(
          concat(lit("move of "), round(pct, 2), lit("%"))
            .as("explanation"),
          sentiment.as("sentiment"), topic.as("topic"))))
    }
  }

  /** Build the per-row prompt (F-PROMPT, stock_grok_pipeline.py:223-229
  *   shape: key, pct 2dp, date). */
  def withPrompt(df: DataFrame): DataFrame =
    df.withColumn("prompt",
      format_string("Explain the %.2f%% move of user %s on %s",
        col("pct_change"), col("user_id"), col("date")))

  /** Full enrichment pass: detect un-enriched (ticker,date) rows via
    * anti-join, prompt, call the provider, decode the JSON reply
    * (malformed → null struct → dropped, like the reference's
    * `continue`), and lower-case like stg_grok_explanations. */
  def enrichMissing(staged: DataFrame, existing: DataFrame,
                    provider: SentimentProvider): DataFrame = {
    val todo = Writes.unenriched(
      staged.filter(col("pct_change").isNotNull),
      existing, Seq("user_id", "date"))
    val replied = provider.enrich(withPrompt(todo))
    replied
      .withColumn("_r", from_json(col("raw_reply"), replySchema))
      .filter(col("_r").isNotNull)
      .select(col("user_id"), col("date"),
        col("_r.explanation").as("explanation"),
        TextFns.lower(col("_r.sentiment")).as("sentiment"),
        TextFns.lower(col("_r.topic")).as("topic"))
  }
}
