package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.jobs.DailyEtlJob
import graft.operators.{Enrichment, EventSeries, Multimodal}
import graft.streaming.StreamingIngest

/** End-to-end composition specs: daily ETL idempotency (§3.1), streaming
  * ingest exactly-once append (§2.9), multimodal plumbing. */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private lazy val events = Tables.events(spark, "/root/testdata/sf0.001")

  test("daily ETL: backfill + re-running the same day is a no-op " +
    "(unique-key idempotency, init.sql:14,25)") {
    val (state1, fact1) = DailyEtlJob.backfill(events,
      Enrichment.DeterministicProvider)
    val (state2, fact2) = DailyEtlJob.step(state1, events,
      Enrichment.DeterministicProvider)
    assert(fact1.count() == fact2.count())
    assert(state2.bars.count() == state1.bars.count())
    assert(state2.enrichments.count() == state1.enrichments.count())
    // enrichment covers every row with a non-null pct_change
    val stagedRows = fact1.filter(col("pct_change").isNotNull).count()
    assert(state1.enrichments.count() == stagedRows)
    // fact keeps all bar rows (left join), sentiment lower-cased
    assert(fact1.count() == state1.bars.count())
    val sentiments = fact1.select("sentiment").distinct()
      .as[Option[String]].collect().flatten.toSet
    assert(sentiments.subsetOf(Set("positive", "negative", "neutral")))
  }

  test("streaming ingest: bars merge exactly across day-spanning " +
    "micro-batches; a fresh-checkpoint re-run rebuilds the same bars") {
    val target = Files.createTempDirectory("graft_stream_out").toString
    val cp1 = Files.createTempDirectory("graft_cp1").toString
    val cp2 = Files.createTempDirectory("graft_cp2").toString

    // split the events across two files by event-id parity, so every
    // (user, day) bar spans both micro-batches (maxFilesPerTrigger=1)
    val raw = events
    val srcDir = Files.createTempDirectory("graft_stream_src")
    def writeHalf(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, srcDir.resolve(name))
    }
    writeHalf(raw.filter(col("event_id") % 2 === 0), "half0.parquet")
    writeHalf(raw.filter(col("event_id") % 2 === 1), "half1.parquet")

    val q1 = StreamingIngest.ingestDailyBars(spark, srcDir.toString,
      target, cp1, maxFilesPerTrigger = Some(1))
    q1.awaitTermination()
    // two micro-batches actually ran
    assert(new java.io.File(target).list()
      .count(_.startsWith("batch_id=")) == 2)
    val expected = EventSeries.dailyBars(events)
    val bars1 = StreamingIngest.readDailyBars(spark, target)
    assert(bars1.except(expected).count() == 0)
    assert(expected.except(bars1).count() == 0)

    // fresh checkpoint = reprocess from scratch: same end state
    val q2 = StreamingIngest.ingestDailyBars(spark, srcDir.toString,
      target, cp2)
    q2.awaitTermination()
    val bars2 = StreamingIngest.readDailyBars(spark, target)
    assert(bars2.count() == expected.count())
    assert(bars2.except(expected).count() == 0)
  }

  test("streaming ingest into a file: URI target: batch 0 of a fresh " +
    "checkpoint clears a stale batch partition before it writes") {
    val target = new java.io.File(
      Files.createTempDirectory("graft_stream_uri").toFile, "bars").toURI
      .toString
    assert(target.startsWith("file:"))
    // an earlier run's partition: readDailyBars would merge its partials
    EventSeries.dailyBarPartials(events).write
      .parquet(s"$target/batch_id=7")
    val srcDir = Files.createTempDirectory("graft_stream_uri_src")
    val tmp = Files.createTempDirectory("graft_stream_uri_tmp").toString
    events.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, srcDir.resolve("all.parquet"))
    StreamingIngest.ingestDailyBars(spark, srcDir.toString, target,
      Files.createTempDirectory("graft_stream_uri_cp").toString)
      .awaitTermination()
    val bars = StreamingIngest.readDailyBars(spark, target)
    val expected = EventSeries.dailyBars(events)
    assert(bars.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(bars).isEmpty)
  }

  test("streaming sessionize (flatMapGroupsWithState) closes exactly " +
    "the batch operator's sessions, leaving at most one open tail per " +
    "user") {
    import graft.streaming.Sessionize
    val cp = Files.createTempDirectory("graft_sess_cp").toString
    // two micro-batches split at the median TIMESTAMP (streams deliver
    // roughly in event-time order; an out-of-order split would make
    // whole batches late under the watermark) — sessions crossing the
    // midpoint span both batches
    val raw = events
    val mid = raw.selectExpr("percentile_approx(unix_micros(ts), 0.5)")
      .head.getLong(0)
    val srcDir = Files.createTempDirectory("graft_sess_src")
    def writeHalf(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_sess_half").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, srcDir.resolve(name))
    }
    writeHalf(raw.filter(unix_micros(col("ts")) <= mid), "half0.parquet")
    writeHalf(raw.filter(unix_micros(col("ts")) > mid), "half1.parquet")

    val sessions = Sessionize.sessionize(
      StreamingIngest.readEvents(spark, srcDir.toString,
        maxFilesPerTrigger = Some(1)), gapMinutes = 30)
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val cols = Seq("user_id", "start_us", "end_us", "n_events", "sum_value")
    val streamed = spark.table("sess_out").select(cols.map(col): _*)
    val batch = EventSeries.sessions(events, gapMinutes = 30)
      .select(cols.map(col): _*)

    // every emitted session is a batch session, bit-for-bit
    assert(streamed.except(batch).count() == 0)
    // whatever is missing is only the (possibly still-open) LAST
    // session of a user — never an interior one
    val lastPerUser = batch.groupBy("user_id")
      .agg(max(col("end_us")).as("end_us"))
    val missing = batch.except(streamed)
    assert(missing.join(lastPerUser, Seq("user_id", "end_us"), "left_anti")
      .count() == 0)
    // and the stream did close the overwhelming majority
    assert(streamed.count() > 0)
    assert(missing.count() <= lastPerUser.count())
  }

  test("multimodal: payload decode preserves rows, emits valid typed " +
    "features, frame sampling explodes deterministically") {
    val media = Multimodal.asMedia(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    val feats = Multimodal.extractFeatures(media).cache()
    assert(feats.count() == media.count())
    assert(feats.filter(!col("valid")).count() == 0)
    assert(feats.filter(col("width") < 16 || col("width") > 143)
      .count() == 0)
    // deterministic: re-extraction yields identical checksums
    val again = Multimodal.extractFeatures(media)
    assert(feats.select("doc_id", "checksum").except(
      again.select("doc_id", "checksum")).count() == 0)
    val frames = Multimodal.sampleFrames(media, everyK = 64)
    assert(frames.count() > media.count()) // docs are >64 bytes
  }

  test("multimodal: a second decoder slots into the same plan through " +
    "the MediaDecoder seam (the codec is pluggable, not hard-wired)") {
    val media = Multimodal.asMedia(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    // a fake "thumbnail codec": constant 8×8 dims, byte-count checksum,
    // same null/empty-payload contract as the stub
    object ThumbDecoder extends Multimodal.MediaDecoder {
      override def decode(rows: Iterator[Multimodal.MediaRow])
          : Iterator[Multimodal.MediaFeatures] = rows.map { r =>
        val n = Option(r.payload).map(_.length).getOrElse(0)
        Multimodal.MediaFeatures(r.doc_id, r.media_type, n,
          width = 8, height = 8, checksum = n.toLong, valid = n > 0)
      }
    }
    val feats = Multimodal.extractFeatures(media, ThumbDecoder).cache()
    assert(feats.count() == media.count())
    assert(feats.filter(col("valid"))
      .filter(col("width") =!= 8 || col("height") =!= 8).count() == 0)
    // decoder output flows through the SAME typed schema/plan: the two
    // decoders agree on row count and byte counts, differ only in the
    // decoded fields
    val stub = Multimodal.extractFeatures(media)
    assert(stub.select("doc_id", "n_bytes").except(
      feats.select("doc_id", "n_bytes")).count() == 0)
  }

  test("multimodal: imageDims parses real PNG and GIF headers from " +
    "binary payloads with pure column functions") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      val ihdr = Array(0x00, 0x00, 0x00, 0x0D, 0x49, 0x48, 0x44, 0x52)
      val dims = Array(w >>> 24, (w >>> 16) & 0xff, (w >>> 8) & 0xff,
        w & 0xff, h >>> 24, (h >>> 16) & 0xff, (h >>> 8) & 0xff, h & 0xff)
      (sig ++ ihdr ++ dims).map(_.toByte)
    }
    def gif(w: Int, h: Int): Array[Byte] =
      ("GIF89a".getBytes.map(_.toInt) ++ Array(w & 0xff, w >>> 8,
        h & 0xff, h >>> 8)).map(_.toByte)
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val soi = Array(0xff, 0xd8)
      // APP0 marker with a 16-byte segment the scanner must skip
      val app0 = Array(0xff, 0xe0, 0x00, 0x10) ++ Array.fill(14)(0x4a)
      val sof0 = Array(0xff, 0xc0, 0x00, 0x0b, 8,
        h >>> 8, h & 0xff, w >>> 8, w & 0xff, 1, 0x11)
      (soi ++ app0 ++ sof0 ++ Array(0xff, 0xd9)).map(_.toByte)
    }
    val rows = Seq(
      (1L, png(640, 480)),
      (2L, gif(320, 200)),
      (3L, "not an image at all".getBytes),
      (4L, jpeg(1024, 768)),
      (5L, Array(0xff, 0xd8, 0xff, 0xe0, 0x00).map(_.toByte)), // truncated
      // SOF declaring len=3: too short to hold dims — must be null,
      // not garbage read from following bytes
      (6L, Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x03, 8, 1, 2, 3, 4,
        0xff, 0xd9).map(_.toByte))
    ).toDF("doc_id", "payload")
    val got = rows.select(col("doc_id"),
        Multimodal.imageDims(col("payload")).as("d"))
      .select("doc_id", "d.format", "d.width", "d.height")
      .as[(Long, String, Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "png", Some(640L), Some(480L)),
      (2L, "gif", Some(320L), Some(200L)),
      (3L, "unknown", None, None),
      (4L, "jpeg", Some(1024L), Some(768L)),
      (5L, "jpeg", None, None), // valid magic, unparseable header
      (6L, "jpeg", None, None))) // SOF too short to hold dims
  }

  test("watermarked windowed aggregation compiles to a streaming-safe " +
    "plan over the batch frame too") {
    val out = StreamingIngest.windowedCounts(events)
    assert(out.columns.contains("n_events"))
    assert(out.count() == EventSeries.dailyBars(events).count())
  }
}
