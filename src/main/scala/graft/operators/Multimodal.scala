package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for training-data pipelines: media payloads
  * travel as opaque `binary` columns with a typed metadata struct; decode
  * and feature extraction run partition-local over iterator batches
  * (`mapPartitions`) so a real codec slots in without changing the plan.
  *
  * Decode is REAL across the media surface: [[PixelDecoder]] /
  * [[colorStats]] / [[audioStats]] over the pure-JVM
  * [[graft.functions.MediaCodecs]] (PNG in all five 8-bit color types,
  * linear and Adam7-interlaced, tRNS transparency; 24-bit BMP; PCM-16
  * WAV; animated GIF), [[PixelDecoder]] also over the JDK's `jpeg`
  * ImageReader for JPEG pixel data, and [[frameSampleGif]] for
  * animated-GIF frame extraction. `decodeStub` remains only as the
  * seam DEMO for codecs that genuinely need external libraries
  * (modern video formats) — it derives deterministic fake dimensions
  * from header bytes. Every
  * decoder runs through the same [[MediaDecoder]] seam, so the
  * Spark-side contract — schema, batch iteration, partition locality,
  * null/corrupt quarantine — is identical and tested for each.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, media_type: String,
                      payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, media_type: String,
                           n_bytes: Int, width: Int, height: Int,
                           checksum: Long, valid: Boolean)

  /** Attach a payload column: fixture adapter that treats the document
    * text bytes as the opaque media payload (in production this is the
    * raw image/audio bytes read from the lake). */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      col("text").cast("binary").as("payload"))

  /** Decoder seam (the [[graft.operators.Enrichment.SentimentProvider]]
    * pattern): a production codec — pandas-UDF bridge, codec-JNI —
    * implements this ONE method and slots into [[extractFeatures]]
    * without any plan change; the iterator-batch signature is exactly
    * what `mapPartitions` hands a partition. Implementations must be
    * serializable (they ship to executors) and must preserve the
    * null-payload passthrough contract (null/empty payload → a
    * `valid = false` row, never a throw — one corrupt blob must not
    * fail a 100 TB scan; quarantine downstream on `valid`). */
  trait MediaDecoder extends Serializable {
    def decode(rows: Iterator[MediaRow]): Iterator[MediaFeatures]
  }

  /** The default decoder stays the deterministic stub — a DECLARED
    * fake (see object scaladoc) standing in for formats outside
    * [[PixelDecoder]]'s scope; use [[PixelDecoder]] for real
    * PNG/BMP/JPEG payloads. */
  object StubDecoder extends MediaDecoder {
    override def decode(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      decodeStub(rows)
  }

  /** ??? real decoder goes here — deterministic STUB: fake
    * "decode" reads dimensions from the first payload bytes and a
    * rolling checksum, preserving the iterator-batch shape a pandas-UDF /
    * codec-JNI implementation would use. */
  def decodeStub(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
    rows.map { r =>
      val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
      val n = bytes.length
      if (n == 0) MediaFeatures(r.doc_id, r.media_type, 0, 0, 0, 0L,
        valid = false)
      else {
        var checksum = 1125899906842597L
        var i = 0
        while (i < n) { checksum = 31 * checksum + bytes(i); i += 1 }
        MediaFeatures(r.doc_id, r.media_type, n,
          width = 16 + (bytes(0) & 0x7f),
          height = 16 + (bytes(n / 2) & 0x7f),
          checksum = checksum, valid = true)
      }
    }

  /** REAL pixel decoder (not a stub), the only one: sniffs PNG (ALL
    * five 8-bit color types — grayscale, truecolor, palette,
    * gray+alpha, RGBA) then BMP via [[graft.functions.MediaCodecs]],
    * then JPEG (SOI marker `FF D8`) through the JDK's `jpeg`
    * ImageReader, and reconstructs actual pixels — `width`/`height`
    * come from the decoded raster and `checksum` carries the LUMA SUM
    * over decoded pixels (integer mean of R, G, B per pixel — for a
    * grayscale source that IS the gray value, so the stat is
    * color-type-independent). Out-of-scope or corrupt payloads (and
    * formats needing external codecs) yield `valid = false` —
    * quarantine, never a throw. */
  object PixelDecoder extends MediaDecoder {
    override def decode(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map { r =>
        val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
        graft.functions.MediaCodecs.decodePngAny(bytes) match {
          case Some(img) =>
            MediaFeatures(r.doc_id, r.media_type, bytes.length,
              img.width, img.height, argbLumaSum(img.argb), valid = true)
          case None =>
            graft.functions.MediaCodecs.decodeBmp(bytes) match {
              case Some(img) =>
                MediaFeatures(r.doc_id, r.media_type, bytes.length,
                  img.width, img.height, lumaSum(img.pixels),
                  valid = true)
              case None =>
                decodeJpeg(bytes) match {
                  case Some(bi) =>
                    MediaFeatures(r.doc_id, r.media_type, bytes.length,
                      bi.getWidth, bi.getHeight, jpegLumaSum(bi),
                      valid = true)
                  case None =>
                    MediaFeatures(r.doc_id, r.media_type, bytes.length,
                      0, 0, 0L, valid = false)
                }
            }
        }
      }
  }

  /** Per-channel integer stats over decoded PNG rasters (any supported
    * color type): the channel-sum profile color-balance/quality filters
    * aggregate, exact BIGINTs. Same partition-local map shape and
    * quarantine contract as [[audioStats]]. */
  def colorStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map { r =>
      val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
      graft.functions.MediaCodecs.decodePngAny(bytes) match {
        case Some(img) =>
          var sr = 0L; var sg = 0L; var sb = 0L; var sa = 0L
          var i = 0
          while (i < img.argb.length) {
            val p = img.argb(i)
            sa += p >>> 24; sr += (p >> 16) & 0xff
            sg += (p >> 8) & 0xff; sb += p & 0xff
            i += 1
          }
          (r.doc_id, img.colorType, img.width.toLong, img.height.toLong,
            sr, sg, sb, sa, true)
        case None => (r.doc_id, -1, 0L, 0L, 0L, 0L, 0L, 0L, false)
      }
    }).toDF("doc_id", "color_type", "width", "height",
      "sum_r", "sum_g", "sum_b", "sum_a", "valid")
  }

  /** Luma sum over packed ARGB: integer mean of R, G, B per pixel
    * (matches the BMP decode convention; exact for gray sources). */
  private def argbLumaSum(argb: Array[Int]): Long = {
    var s = 0L; var i = 0
    while (i < argb.length) {
      val p = argb(i)
      s += (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
      i += 1
    }
    s
  }

  /** JPEG pixels from the JDK's `jpeg` ImageReader. The reader is asked
    * for by format, not through `ImageIO.read`, so GIF, TIFF and any
    * other registered format stay out of scope instead of decoding as
    * "valid". Any failure is None (quarantine, never a throw). */
  private def decodeJpeg(bytes: Array[Byte])
      : Option[java.awt.image.BufferedImage] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff ||
      (bytes(1) & 0xff) != 0xd8) return None
    imageIoMemoryOnly
    try {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val reader =
        javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
      try { reader.setInput(in, true, true); Some(reader.read(0)) }
      finally { reader.dispose(); in.close() }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** No ImageIO temp files on executor-local disks; set once per JVM. */
  private lazy val imageIoMemoryOnly: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** A grayscale JPEG decodes to one band of raw samples, summed as is:
    * `getRGB` would convert them from linear gray to sRGB. Color uses
    * the integer mean of R, G, B like every other format. */
  private def jpegLumaSum(bi: java.awt.image.BufferedImage): Long = {
    val (w, h) = (bi.getWidth, bi.getHeight)
    if (bi.getRaster.getNumBands == 1)
      lumaSum(bi.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int]))
    else argbLumaSum(bi.getRGB(0, 0, w, h, null, 0, w))
  }

  /** Primitive accumulation — foldLeft would box every pixel on the
    * per-row decode hot path, the explicit per-byte-cost bottleneck. */
  private def lumaSum(px: Array[Int]): Long = {
    var s = 0L; var i = 0
    while (i < px.length) { s += px(i); i += 1 }
    s
  }

  /** Partition-local REAL audio decode (PCM-16 WAV): per-clip sample
    * count, sample rate, and the integer amplitude stats (sum |s|,
    * sum s²) that level/energy filters aggregate — exact BIGINTs, so
    * the stats are engine-portable. Invalid/corrupt clips quarantine as
    * `valid = false` rows with zeroed stats, mirroring the
    * [[MediaDecoder]] contract. Pure map over partitions: linear, no
    * shuffle, nothing driver-side. */
  def audioStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map { r =>
      val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
      graft.functions.MediaCodecs.decodeWav(bytes) match {
        case Some(clip) =>
          var sumAbs = 0L; var sumSq = 0L
          clip.samples.foreach { s =>
            sumAbs += math.abs(s.toLong); sumSq += s.toLong * s
          }
          (r.doc_id, r.media_type, clip.sampleRate,
            clip.samples.length.toLong, sumAbs, sumSq, true)
        case None =>
          (r.doc_id, r.media_type, 0, 0L, 0L, 0L, false)
      }
    }).toDF("doc_id", "media_type", "sample_rate", "n_samples",
      "sum_abs", "sum_sq", "valid")
  }

  /** Frame-level audio activity features over REAL decoded PCM — the
    * speech/music filtering stage one rung above [[audioStats]]'
    * clip-level energy: zero-crossing count (noisiness), peak
    * amplitude (clipping detection), and a frame-energy profile
    * (`frameLen`-sample frames; a frame is ACTIVE when its energy
    * exceeds `activeEnergyPerSample`·len — integer voice-activity
    * gating). Every feature is exact BIGINT arithmetic over the int16
    * samples, so the whole row is engine-portable (q123 hash oracle
    * replays the generative fixture formula, the q100/q101 pattern).
    * Pure map over partitions: linear, no shuffle. Corrupt clips
    * quarantine as `valid = false` with zeroed stats. */
  def audioActivity(media: DataFrame, frameLen: Int = 256,
                    activeEnergyPerSample: Long = 500000L): DataFrame = {
    require(frameLen > 0, "frameLen must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map { r =>
      val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
      graft.functions.MediaCodecs.decodeWav(bytes) match {
        case Some(clip) =>
          val s = clip.samples
          var zc = 0L; var peak = 0L
          var i = 0
          while (i < s.length) {
            if (i > 0 && ((s(i - 1) < 0) != (s(i) < 0))) zc += 1
            val a = math.abs(s(i).toLong)
            if (a > peak) peak = a
            i += 1
          }
          val nFrames = (s.length + frameLen - 1) / frameLen
          var maxE = 0L; var active = 0L
          var f = 0
          while (f < nFrames) {
            val from = f * frameLen
            val until = math.min(from + frameLen, s.length)
            var e = 0L
            var j = from
            while (j < until) { e += s(j).toLong * s(j); j += 1 }
            if (e > maxE) maxE = e
            if (e >= activeEnergyPerSample * (until - from)) active += 1
            f += 1
          }
          (r.doc_id, s.length.toLong, zc, peak,
            nFrames.toLong, maxE, active, true)
        case None =>
          (r.doc_id, 0L, 0L, 0L, 0L, 0L, 0L, false)
      }
    }).toDF("doc_id", "n_samples", "zero_crossings", "peak_abs",
      "n_frames", "max_frame_energy", "n_active_frames", "valid")
  }

  /** Spectral shape features over REAL decoded PCM via the pure-JVM
    * FFT ([[graft.functions.Dsp]]): centroid and 85% rolloff in Hz,
    * flatness — the tone-vs-noise triage for audio corpus curation.
    * Double-precision DSP is not SQL-replayable, so the q129 surface
    * is rows-only; DspSpec pins the kernel on analytically-known
    * signals (bin-exact sine → centroid = its frequency, flatness → 0;
    * white noise → flatness near 1). Pure map over partitions. */
  def audioSpectral(media: DataFrame, frameLen: Int = 256): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map { r =>
      val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
      graft.functions.MediaCodecs.decodeWav(bytes).flatMap { clip =>
        val power = graft.functions.Dsp
          .meanPowerSpectrum(clip.samples, frameLen)
        graft.functions.Dsp
          .spectralFeatures(power, clip.sampleRate, frameLen)
          .map { case (centroid, rolloff, flatness) =>
            (r.doc_id, clip.samples.length.toLong,
              math.rint(centroid * 10) / 10,
              math.rint(rolloff * 10) / 10,
              math.rint(flatness * 1e6) / 1e6, true)
          }
      }.getOrElse((r.doc_id, 0L, 0.0, 0.0, 0.0, false))
    }).toDF("doc_id", "n_samples", "centroid_hz", "rolloff_hz",
      "flatness", "valid")
  }

  /** The mean power SPECTRUM itself, one row per (doc, AC bin):
    * REAL WAV decode → framed FFT ([[graft.functions.Dsp]]) → per-bin
    * mean power quantized to micro units (`p6 = round(p·10⁶)` as an
    * exact LONG). This is the stageable model-state view of
    * [[audioSpectral]]: the DSP (decode + FFT) happens once here, and
    * the downstream feature algebra — centroid, rolloff, flatness —
    * becomes pure relational arithmetic over (doc_id, bin, p6) that
    * BOTH engines can replay exactly (q129's staging gate). Bins are
    * 1..frameLen/2 (DC dropped — constant offset is not spectral
    * shape, matching [[graft.functions.Dsp.spectralFeatures]]).
    * Undecodable or sub-frame-length payloads contribute no rows.
    * Pure flatMap over partitions: linear, shuffle-free. */
  def audioSpectrum(media: DataFrame, frameLen: Int = 256): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
      graft.functions.MediaCodecs.decodeWav(bytes).toSeq.flatMap { clip =>
        val power = graft.functions.Dsp
          .meanPowerSpectrum(clip.samples, frameLen)
        if (power.isEmpty) Seq.empty
        else (1 until power.length).map(b =>
          (r.doc_id, clip.samples.length.toLong,
            clip.sampleRate.toLong, b.toLong,
            math.round(power(b) * 1e6)))
      }
    }.toDF("doc_id", "n_samples", "sample_rate", "bin", "p6")
  }

  /** Perceptual hash per image (REAL PNG/BMP decode → 32×32 box pool
    * → 8×8 DCT sign bits, [[graft.functions.ImageHash]]): the 64-bit
    * fingerprint that makes image near-dup detection the same
    * banded-Hamming join as text SimHash —
    * [[Dedup.hammingBandPairs]] over the output. Pure map; corrupt
    * payloads quarantine as `valid = false`. */
  def imagePhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map { r =>
      val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
      val img = graft.functions.MediaCodecs.decodePng(bytes)
        .orElse(graft.functions.MediaCodecs.decodeBmp(bytes))
      img match {
        case Some(g) =>
          (r.doc_id, graft.functions.ImageHash
            .phash64(g.pixels, g.width, g.height), true)
        case None => (r.doc_id, 0L, false)
      }
    }).toDF("doc_id", "phash", "valid")
  }

  /** Partition-local feature extraction over the media frame; the
    * decoder is a pluggable seam ([[MediaDecoder]]) — [[PixelDecoder]]
    * for the real formats (PNG, BMP, JPEG), [[StubDecoder]] (the
    * default) for the rest. */
  def extractFeatures(media: DataFrame,
                      decoder: MediaDecoder = StubDecoder)
      : Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(decoder.decode(_))
  }

  /** REAL frame sampling over animated-GIF payloads: decode the
    * container ([[graft.functions.MediaCodecs.decodeGif]] — full LZW,
    * palettes, interlace), keep every `everyK`-th frame, and emit one
    * row per sampled frame with its sub-rectangle dims and the luma
    * sum over DECODED pixels. The explode-to-frames shape video
    * pipelines use, with an actual codec behind it; payloads that fail
    * to decode contribute no rows (quarantine upstream on
    * [[PixelDecoder]]'s valid flag if per-doc accounting is needed).
    * Partition-local flatMap: linear, shuffle-free. */
  def frameSampleGif(media: DataFrame, everyK: Int = 2): DataFrame = {
    require(everyK > 0, "everyK must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
      graft.functions.MediaCodecs.decodeGif(bytes) match {
        case Some((_, _, frames)) =>
          frames.iterator.zipWithIndex
            .filter(_._2 % everyK == 0)
            .map { case (f, i) =>
              (r.doc_id, i.toLong, f.width.toLong, f.height.toLong,
                lumaSum(f.pixels))
            }
        case None => Iterator.empty
      }
    }.toDF("doc_id", "frame_no", "width", "height", "luma_sum")
  }

  /** Frame-sample stub: pick every k-th byte as a "frame" digest —
    * demonstrates the explode-to-frames shape (one row per sampled
    * frame) used by video pipelines. */
  def sampleFrames(media: DataFrame, everyK: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
      bytes.indices.by(everyK).map(i =>
        (r.doc_id, i / everyK, bytes(i).toInt & 0xff))
    }.toDF("doc_id", "frame_no", "frame_digest")
  }
}
