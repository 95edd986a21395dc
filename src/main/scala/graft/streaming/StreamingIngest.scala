package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.operators.EventSeries

/** Structured Streaming framing of the daily ingest (SURVEY §2.9/§7.4):
  * the reference's cron-driven batch append is re-expressed as an
  * `availableNow` file stream over a drop directory, with the S3
  * insert-ignore key semantics applied per micro-batch via foreachBatch.
  *
  * Why foreachBatch instead of a stateful windowed aggregation: the sink
  * contract is "append rows whose (user_id, date) key is new" — exactly
  * the reference's ON CONFLICT DO NOTHING — which is a set operation
  * against the sink, not an event-time window. Watermarked windowed
  * variants are provided for pure-stream aggregation consumers. */
object StreamingIngest {

  /** File-stream read of an events drop: the declared schema is DERIVED
    * from a batch read of the source (fixtures have shipped `ts` as
    * TIMESTAMP(NANOS)-as-BIGINT, TIMESTAMP_NTZ micros, and adjusted-UTC
    * TIMESTAMP — hardcoding any one misreads the others), then `ts` is
    * normalized to the session TimestampType by the same
    * [[graft.Tables.normalizeTs]] branch every batch consumer uses. */
  def readEvents(spark: SparkSession, source: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // file stream sources require a directory; a single-file source
    // becomes its parent dir + a glob filter on the file name
    val (dir, glob) =
      if (source.endsWith(".parquet") &&
        !new java.io.File(source).isDirectory) {
        val p = java.nio.file.Paths.get(source)
        (p.getParent.toString, p.getFileName.toString)
      } else (source, "*")
    // also sets the nanosAsLong conf iff the footer is TIMESTAMP(NANOS),
    // which the streaming scan below needs just as the batch one does
    val arrived: StructType = Tables.readEventsFlavored(spark, source).schema
    val reader = spark.readStream.schema(arrived)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n))
    Tables.normalizeTs(reader.parquet(dir))
  }

  /** Incremental daily-bars ingest.
    *
    * A day's events may span micro-batches (maxFilesPerTrigger,
    * resumed runs), so no batch can emit a FINAL bar for its keys —
    * instead each batch writes its mergeable partial aggregates
    * ([[EventSeries.dailyBarPartials]]) to a `batch_id=<id>` partition
    * of the target. Bars are finalized at read by [[readDailyBars]].
    *
    * Idempotency comes from write-by-batch-id, not insert-ignore:
    * foreachBatch is at-least-once, and a replayed batch overwrites
    * its own partition rather than double-counting. Batch 0 clears the
    * target — a fresh checkpoint means "reprocess from scratch" in
    * Structured Streaming semantics, so the rebuilt state replaces the
    * old, and re-running over the same source is a no-op end-state.
    * At warehouse scale, a periodic compaction would fold old
    * batch partitions into one (mergeBarPartials is associative). */
  def ingestDailyBars(spark: SparkSession, sourceDir: String,
                      targetDir: String, checkpointDir: String,
                      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    readEvents(spark, sourceDir, maxFilesPerTrigger).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId == 0L) {
          val (fs, p) = Tables.fileSystem(spark, targetDir)
          fs.delete(p, true)
        }
        EventSeries.dailyBarPartials(batch).write
          .mode("overwrite").parquet(s"$targetDir/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Finalized daily bars from an [[ingestDailyBars]] target: merge the
    * per-batch partials (one hash agg on the bar key). */
  def readDailyBars(spark: SparkSession, targetDir: String): DataFrame =
    EventSeries.finalizeBars(
      spark.read.parquet(targetDir).drop("batch_id"))

  /** Watermarked sliding-window event counts — the pure-stream
    * aggregation shape (event-time window + late-data bound). */
  def windowedCounts(events: DataFrame, window: String = "1 day",
                     watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
}
