package graft

import org.apache.spark.sql.functions._
import graft.jobs.DailyEtlJob
import graft.operators.{Enrichment, Multimodal}

/** End-to-end composition specs: daily ETL idempotency (§3.1) and
  * multimodal plumbing. */
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
}
