package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Structured Streaming file source for events drops: the streaming
  * read that q52's `availableNow` windowed aggregation runs over. The
  * production daily step is the batch `cli.Main run` verb
  * ([[graft.jobs.DailyEtlJob]]). */
object StreamingIngest {

  /** File-stream read of an events drop: the declared schema is DERIVED
    * from a batch read of the source (fixtures have shipped `ts` as
    * TIMESTAMP(NANOS)-as-BIGINT, TIMESTAMP_NTZ micros, and adjusted-UTC
    * TIMESTAMP — hardcoding any one misreads the others), then `ts` is
    * normalized to the session TimestampType by the same
    * [[graft.Tables.normalizeTs]] branch every batch consumer uses. */
  def readEvents(spark: SparkSession, source: String): DataFrame = {
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
    Tables.normalizeTs(spark.readStream.schema(arrived)
      .option("pathGlobFilter", glob).parquet(dir))
  }
}
