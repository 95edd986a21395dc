package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Indicators
import graft.operators.{Enrichment, EventSeries, Writes}

/** The reference's primary entry point — the daily ETL DAG
  * (airflow/dags/stock_grok_pipeline.py:271-306, SURVEY §3.1) — as one
  * composed Spark lineage: ingest (insert-ignore) → enrichment delta
  * (anti-join + provider) → staging windows → fact join.
  *
  * All state is DataFrame-in/DataFrame-out so the composition is testable
  * and storage-agnostic; the CLI/warehouse wrapper decides where frames
  * persist. Idempotency (the property Postgres unique keys enforced) is
  * guaranteed by the insert-ignore set algebra — EtlSpec proves run∘run
  * = run. */
object DailyEtlJob {

  case class State(bars: DataFrame, enrichments: DataFrame)

  /** One daily run: fold `newEvents` into state, enrich rows that still
    * lack sentiment, emit the refreshed fact table. */
  def step(state: State, newEvents: DataFrame,
           provider: Enrichment.SentimentProvider): (State, DataFrame) = {
    val bars = Writes.insertIgnore(state.bars,
      EventSeries.dailyBars(newEvents), Seq("user_id", "date"))
    val staged = EventSeries.stgDailyPrices(bars)
    val delta = Enrichment.enrichMissing(staged, state.enrichments, provider)
    val enrichments = Writes.insertIgnore(state.enrichments, delta,
      Seq("user_id", "date"))
    val fact = staged
      .join(broadcast(enrichments), Seq("user_id", "date"), "left")
      .withColumn("move_category", Indicators.moveCategory(col("pct_change")))
    (State(bars, enrichments), fact)
  }

  /** Backfill semantics (backfill.py:38-43 destructive reload): empty
    * state, then one step over the whole history. */
  def backfill(events: DataFrame,
               provider: Enrichment.SentimentProvider): (State, DataFrame) =
    step(emptyState(events), events, provider)

  /** The state before any run: no bars (shaped like `events`' bars),
    * no enrichments. */
  def emptyState(events: DataFrame): State = {
    val spark = events.sparkSession
    State(EventSeries.dailyBars(events).limit(0),
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, date DATE, explanation STRING, " +
            "sentiment STRING, topic STRING")))
  }
}
