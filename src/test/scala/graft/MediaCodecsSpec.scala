package graft

import org.apache.spark.sql.functions._
import graft.functions.MediaCodecs
import graft.functions.MediaCodecs.{GrayImage, PcmAudio}
import graft.operators.Multimodal

/** Pure-JVM media codec correctness: PNG (zlib + all five scanline
  * filters), BMP 24bpp, PCM-16 WAV — exact round trips, corrupt-input
  * quarantine, and the decoder seam end-to-end through the Spark plan.
  * These are the REAL-decode counterparts of the q100/q101 oracle
  * round trips (which prove value-exactness cross-engine). */
class MediaCodecsSpec extends SparkSuite {
  import spark.implicits._

  private def pattern(w: Int, h: Int, seed: Int): GrayImage =
    GrayImage(w, h, Array.tabulate(w * h)(i =>
      (seed + 7 * (i % w) + 13 * (i / w)) % 256))

  test("PNG round trip is pixel-exact and exercises every filter type " +
    "(encoder cycles None/Sub/Up/Average/Paeth by row)") {
    // h >= 5 so each of the five filters appears at least once
    val img = pattern(w = 11, h = 9, seed = 5)
    val bytes = MediaCodecs.encodePng(img)
    // real container: signature + IHDR present
    assert(bytes.take(8).map(_ & 0xff).sameElements(
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)))
    val back = MediaCodecs.decodePng(bytes)
    assert(back.isDefined)
    assert(back.get.width == 11 && back.get.height == 9)
    assert(back.get.pixels.sameElements(img.pixels))
  }

  test("PNG decode quarantines corrupt input: bad magic, truncation, " +
    "flipped CRC — None, never a throw") {
    val bytes = MediaCodecs.encodePng(pattern(8, 6, 42))
    assert(MediaCodecs.decodePng("not a png".getBytes).isEmpty)
    assert(MediaCodecs.decodePng(bytes.take(bytes.length / 2)).isEmpty)
    val flipped = bytes.clone()
    flipped(20) = (flipped(20) ^ 0x7f).toByte // inside IHDR data → CRC fails
    assert(MediaCodecs.decodePng(flipped).isEmpty)
    assert(MediaCodecs.decodePng(Array.emptyByteArray).isEmpty)
  }

  test("BMP round trip is pixel-exact including row padding " +
    "(w=5 rows pad 15→16 bytes); truncation quarantines") {
    for (w <- Seq(4, 5, 7); h <- Seq(3, 6)) {
      val img = pattern(w, h, seed = w * 31 + h)
      val bytes = MediaCodecs.encodeBmp(img)
      val back = MediaCodecs.decodeBmp(bytes)
      assert(back.isDefined, s"w=$w h=$h")
      assert(back.get.width == w && back.get.height == h)
      // gray written to all three channels → integer-mean luma is exact
      assert(back.get.pixels.sameElements(img.pixels), s"w=$w h=$h")
    }
    val bytes = MediaCodecs.encodeBmp(pattern(6, 4, 9))
    assert(MediaCodecs.decodeBmp(bytes.take(bytes.length - 3)).isEmpty)
    assert(MediaCodecs.decodeBmp("BMnope".getBytes).isEmpty)
  }

  test("WAV round trip is sample-exact; the RIFF walk skips unknown " +
    "chunks (odd sizes pad to even) instead of assuming fixed offsets") {
    val clip = PcmAudio(16000,
      Array.tabulate(300)(i => ((i * 31) % 4096) - 2048))
    val bytes = MediaCodecs.encodeWav(clip)
    val back = MediaCodecs.decodeWav(bytes)
    assert(back.isDefined)
    assert(back.get.sampleRate == 16000)
    assert(back.get.samples.sameElements(clip.samples))

    // splice an odd-sized LIST chunk between fmt and data: a fixed-
    // offset reader breaks, a real chunk walk does not
    val listData = "INFOx".getBytes("US-ASCII") // 5 bytes → 1 pad byte
    val chunk = java.nio.ByteBuffer.allocate(8 + listData.length + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    chunk.put("LIST".getBytes("US-ASCII")).putInt(listData.length)
      .put(listData).put(0.toByte)
    val spliced = bytes.take(36) ++ chunk.array() ++ bytes.drop(36)
    // RIFF size field must cover the splice
    val bb = java.nio.ByteBuffer.wrap(spliced)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, spliced.length - 8)
    val walked = MediaCodecs.decodeWav(spliced)
    assert(walked.isDefined)
    assert(walked.get.samples.sameElements(clip.samples))
  }

  test("WAV decode quarantines out-of-scope formats: stereo, 8-bit, " +
    "non-PCM, truncated data") {
    val bytes = MediaCodecs.encodeWav(
      PcmAudio(8000, Array.tabulate(50)(_ * 10)))
    def patched(pos: Int, v: Short): Array[Byte] = {
      val c = bytes.clone()
      java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putShort(pos, v)
      c
    }
    assert(MediaCodecs.decodeWav(patched(22, 2)).isEmpty)  // stereo
    assert(MediaCodecs.decodeWav(patched(34, 8)).isEmpty)  // 8-bit
    assert(MediaCodecs.decodeWav(patched(20, 3)).isEmpty)  // IEEE float
    assert(MediaCodecs.decodeWav(bytes.take(50)).isEmpty)  // truncated
  }

  test("PixelDecoder through the extractFeatures plan: real PNG and BMP " +
    "payloads decode (luma sum from DECODED pixels), junk quarantines " +
    "as valid=false — one frame, one partition-local pass") {
    val png = pattern(6, 5, 11)
    val bmp = pattern(4, 4, 23)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", MediaCodecs.encodePng(png)),
      Multimodal.MediaRow(2L, "image", MediaCodecs.encodeBmp(bmp)),
      Multimodal.MediaRow(3L, "image", "jpeg-or-garbage".getBytes),
      Multimodal.MediaRow(4L, "image", null)
    ).toDF()
    val feats = Multimodal.extractFeatures(media, Multimodal.PixelDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).valid && feats(1L).width == 6 && feats(1L).height == 5)
    assert(feats(1L).checksum == png.pixels.map(_.toLong).sum)
    assert(feats(2L).valid && feats(2L).width == 4 && feats(2L).height == 4)
    assert(feats(2L).checksum == bmp.pixels.map(_.toLong).sum)
    assert(!feats(3L).valid && !feats(4L).valid)
  }

  // ---- independent validation: the JDK's ImageIO decoders (java.desktop)
  // know nothing of our codec code, so agreement rules out the
  // mirrored-bug failure mode a same-author round trip cannot catch.

  private def imageioFrames(bytes: Array[Byte])
      : Seq[java.awt.image.BufferedImage] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      assert(readers.hasNext, "no ImageIO reader for payload")
      val r = readers.next()
      r.setInput(iis)
      (0 until r.getNumImages(true)).map(r.read(_))
    } finally iis.close()
  }

  private def assertGrayEquals(img: java.awt.image.BufferedImage,
                               px: Array[Int], w: Int, h: Int): Unit = {
    assert(img.getWidth == w && img.getHeight == h)
    // raw raster samples, NOT getRGB: on a gray BufferedImage getRGB
    // converts linear gray → sRGB (gamma), silently changing values
    val raster = img.getRaster
    val bands = raster.getNumBands
    for (y <- 0 until h; x <- 0 until w) {
      val expect = px(y * w + x)
      for (b <- 0 until math.min(bands, 3)) { // skip alpha band if any
        val got = raster.getSample(x, y, b)
        assert(got == expect,
          s"pixel ($x,$y) band $b: imageio=$got expected=$expect")
      }
    }
  }

  test("PNG and BMP encoders validate against the JDK's independent " +
    "ImageIO decoders, pixel-exact") {
    val img = pattern(13, 7, seed = 3)
    assertGrayEquals(imageioFrames(MediaCodecs.encodePng(img)).head,
      img.pixels, 13, 7)
    assertGrayEquals(imageioFrames(MediaCodecs.encodeBmp(img)).head,
      img.pixels, 13, 7)
  }

  test("GIF round trip (own decoder) is frame- and pixel-exact across " +
    "code-width growth AND a 4096-entry table reset") {
    // small varied frames grow the LZW dictionary past one width bump;
    // the 100x100 frame forces the table-full CLEAR/reset path
    val frames = Seq(
      MediaCodecs.GifFrame(0, 0, 11, 9,
        pattern(11, 9, 7).pixels, delayCs = 4),
      MediaCodecs.GifFrame(2, 1, 7, 5,
        pattern(7, 5, 19).pixels, delayCs = 6),
      MediaCodecs.GifFrame(0, 0, 100, 100,
        Array.tabulate(100 * 100)(i => (i * 37 + (i / 100) * 11) % 256),
        delayCs = 2))
    val bytes = MediaCodecs.encodeGif(100, 100, frames)
    val Some((sw, sh, back)) = MediaCodecs.decodeGif(bytes)
    assert(sw == 100 && sh == 100 && back.length == 3)
    frames.zip(back).foreach { case (a, b) =>
      assert(a.x == b.x && a.y == b.y && a.width == b.width &&
        a.height == b.height && a.delayCs == b.delayCs)
      assert(a.pixels.sameElements(b.pixels))
    }
  }

  test("GIF encoder validates against ImageIO (cross-author decode), " +
    "including the dictionary-heavy frame") {
    val frames = Seq(
      MediaCodecs.GifFrame(0, 0, 16, 12, pattern(16, 12, 31).pixels, 5),
      MediaCodecs.GifFrame(0, 0, 100, 100,
        Array.tabulate(100 * 100)(i => (i * 37 + (i / 100) * 11) % 256), 5))
    val decoded = imageioFrames(
      MediaCodecs.encodeGif(100, 100, frames))
    assert(decoded.length == 2)
    assertGrayEquals(decoded(0), frames(0).pixels, 16, 12)
    assertGrayEquals(decoded(1), frames(1).pixels, 100, 100)
  }

  test("GIF decoder agrees with ImageIO on real-world third-party GIFs " +
    "from the classpath (hadoop busy.gif, scaladoc ownerbg.gif): frame " +
    "count and per-frame dims") {
    for (res <- Seq("/webapps/static/busy.gif",
      "/scala/tools/nsc/doc/html/resource/lib/ownerbg.gif")) {
      val in = getClass.getResourceAsStream(res)
      assert(in != null, s"classpath resource $res missing")
      val bytes = try in.readAllBytes() finally in.close()
      val ours = MediaCodecs.decodeGif(bytes)
      assert(ours.isDefined, s"$res failed to decode")
      val reference = imageioFrames(bytes)
      val (_, _, frames) = ours.get
      assert(frames.length == reference.length,
        s"$res frame count: ours=${frames.length} imageio=${reference.length}")
      frames.zip(reference).foreach { case (f, r) =>
        assert(f.width == r.getWidth && f.height == r.getHeight,
          s"$res frame dims: ${f.width}x${f.height} vs " +
            s"${r.getWidth}x${r.getHeight}")
      }
    }
  }

  test("GIF decode quarantines corrupt input: bad magic, truncation " +
    "mid-palette / mid-frame, desynced blocks — None, never a throw") {
    val good = MediaCodecs.encodeGif(8, 8,
      Seq(MediaCodecs.GifFrame(0, 0, 8, 8, pattern(8, 8, 1).pixels, 0)))
    assert(MediaCodecs.decodeGif("GIF-not-really".getBytes).isEmpty)
    assert(MediaCodecs.decodeGif(good.take(10)).isEmpty)
    assert(MediaCodecs.decodeGif(good.take(good.length - 2)).isEmpty)
    val bad = good.clone()
    bad(781) = 0x55.toByte // stomp the image-separator region
    // either decodes (if the stomp hit pixel data) or returns None —
    // must not throw
    MediaCodecs.decodeGif(bad)
    assert(MediaCodecs.decodeGif(Array.emptyByteArray).isEmpty)
  }

  test("overflow-crafted headers quarantine instead of throwing: " +
    "Int-wrapping dims/chunk sizes in BMP, GIF, WAV, PNG") {
    // BMP: width 715827883 wraps w*3 negative past the bounds check
    val bmp = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bmp.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
    bmp.putInt(40).putInt(715827883).putInt(3).putShort(1).putShort(24)
      .putInt(0).putInt(0).putInt(2835).putInt(2835).putInt(0).putInt(0)
    assert(MediaCodecs.decodeBmp(bmp.array()).isEmpty)

    // GIF: descriptor claiming 65535x65535 wraps fw*fh negative
    val gif = new java.io.ByteArrayOutputStream()
    gif.write("GIF89a".getBytes("US-ASCII"))
    gif.write(Array[Byte](8, 0, 8, 0)) // 8x8 screen
    gif.write(0x80); gif.write(0); gif.write(0) // 2-entry GCT
    gif.write(Array[Byte](0, 0, 0, -1, -1, -1))
    gif.write(0x2c)
    gif.write(Array[Byte](0, 0, 0, 0, -1, -1, -1, -1)) // 65535x65535
    gif.write(0); gif.write(2); gif.write(0); gif.write(0x3b)
    assert(MediaCodecs.decodeGif(gif.toByteArray).isEmpty)

    // WAV: data chunk size near Int.MaxValue wraps the truncation check
    val wav = java.nio.ByteBuffer.allocate(100)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes).putInt(92).put("WAVE".getBytes)
    wav.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    wav.put("data".getBytes).putInt(0x7ffffff0)
    assert(MediaCodecs.decodeWav(wav.array()).isEmpty)

    // PNG: chunk length 0x7FFFFFF6 wraps pos+12+len negative
    val png = new java.io.ByteArrayOutputStream()
    png.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    png.write(java.nio.ByteBuffer.allocate(4).putInt(0x7ffffff6).array())
    png.write("IHDR".getBytes("US-ASCII"))
    png.write(new Array[Byte](17)) // some bytes, far short of the claim
    assert(MediaCodecs.decodePng(png.toByteArray).isEmpty)
  }

  test("frameSampleGif through the plan: every-2nd-frame rows with " +
    "luma from DECODED pixels; undecodable payloads contribute no rows") {
    def gif(id: Long, n: Int): Array[Byte] = {
      val frames = (0 until n).map(f => MediaCodecs.GifFrame(0, 0, 6, 4,
        Array.tabulate(24)(i => ((id + 11 * f + i) % 256).toInt), 3))
      MediaCodecs.encodeGif(6, 4, frames)
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "video", gif(1L, 5)),
      Multimodal.MediaRow(2L, "video", gif(2L, 2)),
      Multimodal.MediaRow(3L, "video", "not a gif".getBytes)
    ).toDF()
    val rows = Multimodal.frameSampleGif(media, everyK = 2)
      .orderBy("doc_id", "frame_no").collect()
    // doc 1: frames 0,2,4; doc 2: frame 0; doc 3: none
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 0L), (1L, 2L), (1L, 4L), (2L, 0L)))
    val expected0 = (0 until 24).map(i => (1L + 0 + i) % 256).sum
    assert(rows(0).getLong(4) == expected0)
    assert(rows.forall(r => r.getLong(2) == 6L && r.getLong(3) == 4L))
  }

  test("audioStats through the plan: exact integer amplitude stats from " +
    "DECODED samples; corrupt rows quarantine with zeroed stats") {
    val samples = Array.tabulate(128)(i => ((i * 97) % 4096) - 2048)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio",
        MediaCodecs.encodeWav(PcmAudio(16000, samples))),
      Multimodal.MediaRow(2L, "audio", "RIFFjunk".getBytes)
    ).toDF()
    val rows = Multimodal.audioStats(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getBoolean(6))
    assert(rows(1L).getInt(2) == 16000)
    assert(rows(1L).getLong(3) == 128L)
    assert(rows(1L).getLong(4) == samples.map(s => math.abs(s.toLong)).sum)
    assert(rows(1L).getLong(5) == samples.map(s => s.toLong * s).sum)
    assert(!rows(2L).getBoolean(6))
    assert(rows(2L).getLong(3) == 0L)
  }

  // ---- color PNG (types 2 truecolor / 3 palette / 6 RGBA) ----

  private def colorPattern(w: Int, h: Int, seed: Int,
                           alpha: Boolean): MediaCodecs.PngImage = {
    val px = Array.tabulate(w * h) { i =>
      val r = (seed + 3 * i) % 256
      val g = (2 * seed + 5 * i) % 256
      val b = (3 * seed + 7 * i) % 256
      val a = if (alpha) (5 * seed + 11 * i) % 256 else 255
      (a << 24) | (r << 16) | (g << 8) | b
    }
    MediaCodecs.PngImage(w, h, if (alpha) 6 else 2, px)
  }

  test("color PNG round trips are pixel-exact for truecolor, palette, " +
    "and RGBA (h>=5 exercises every filter at each byte stride)") {
    for (ct <- Seq(2, 3, 6)) {
      val img = colorPattern(9, 7, seed = 17 + ct, alpha = ct == 6)
        .copy(colorType = ct)
      val back = MediaCodecs.decodePngAny(MediaCodecs.encodePngArgb(img))
      assert(back.isDefined, s"ct=$ct")
      assert(back.get.colorType == ct)
      assert(back.get.width == 9 && back.get.height == 7, s"ct=$ct")
      assert(back.get.argb.sameElements(img.argb), s"ct=$ct")
    }
  }

  test("decodePngAny subsumes the grayscale decoder (type 0 argb packs " +
    "v,v,v) and gray+alpha; decodePng still rejects color sources") {
    val gray = pattern(8, 6, 31)
    val any = MediaCodecs.decodePngAny(MediaCodecs.encodePng(gray))
    assert(any.isDefined && any.get.colorType == 0)
    assert(any.get.argb.map(_ & 0xff).sameElements(gray.pixels))
    assert(any.get.argb.forall(p => {
      val v = p & 0xff
      (p >>> 24) == 0xff && ((p >> 16) & 0xff) == v && ((p >> 8) & 0xff) == v
    }))
    val color = MediaCodecs.encodePngArgb(colorPattern(5, 5, 7, alpha = true))
    assert(MediaCodecs.decodePng(color).isEmpty) // gray view stays narrow
    assert(MediaCodecs.decodePngAny(color).isDefined)
  }

  test("color PNG encoder validates against the JDK's independent " +
    "ImageIO decoder, channel-exact including alpha") {
    for (ct <- Seq(2, 3, 6)) {
      val img = colorPattern(11, 6, seed = 40 + ct, alpha = ct == 6)
        .copy(colorType = ct)
      val decoded = imageioFrames(MediaCodecs.encodePngArgb(img)).head
      assert(decoded.getWidth == 11 && decoded.getHeight == 6)
      for (y <- 0 until 6; x <- 0 until 11) {
        val got = decoded.getRGB(x, y) // ARGB, color-managed only for gray
        val expect = img.argb(y * 11 + x)
        assert(got == expect,
          s"ct=$ct pixel ($x,$y): imageio=${got.toHexString} " +
            s"expected=${expect.toHexString}")
      }
    }
  }

  test("our decoder agrees with an ImageIO-ENCODED color PNG " +
    "(cross-author bytes in the decode direction)") {
    for (imgType <- Seq(
      java.awt.image.BufferedImage.TYPE_INT_ARGB,  // writes RGBA PNG
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)) { // writes truecolor
      val w = 10; val h = 8
      val ref = colorPattern(w, h, seed = 61,
        alpha = imgType == java.awt.image.BufferedImage.TYPE_INT_ARGB)
      val bi = new java.awt.image.BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w)
        bi.setRGB(x, y, ref.argb(y * w + x))
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, "png", baos))
      val back = MediaCodecs.decodePngAny(baos.toByteArray)
      assert(back.isDefined, s"imgType=$imgType")
      assert(back.get.width == w && back.get.height == h)
      assert(back.get.argb.sameElements(ref.argb), s"imgType=$imgType")
    }
  }

  /** Splice a CRC-valid chunk immediately before IDAT. */
  private def spliceBeforeIdat(bytes: Array[Byte], typ: String,
                               data: Array[Byte]): Array[Byte] = {
    val idatPos = bytes.indexOfSlice("IDAT".getBytes("US-ASCII")) - 4
    val crc = new java.util.zip.CRC32()
    crc.update(typ.getBytes("US-ASCII")); crc.update(data)
    val chunk = java.nio.ByteBuffer.allocate(12 + data.length)
      .putInt(data.length).put(typ.getBytes("US-ASCII"))
      .put(data).putInt(crc.getValue.toInt).array()
    bytes.take(idatPos) ++ chunk ++ bytes.drop(idatPos)
  }

  test("tRNS transparency decodes in all three spec forms: palette " +
    "alpha (round-tripped + ImageIO-validated), gray and RGB color " +
    "keys; invalid tRNS placements quarantine") {
    // palette alpha: encoder emits tRNS for an alpha-carrying palette
    // frame; round trip is exact and ImageIO agrees pixel-for-pixel
    val palAlpha = MediaCodecs.PngImage(6, 5, 3, Array.tabulate(30)(i =>
      ((if (i % 3 == 0) 42 else 255) << 24) |
        ((17 + 5 * (i % 4)) << 16) | ((29 + 7 * (i % 4)) << 8) |
        (41 + 11 * (i % 4))))
    val palBytes = MediaCodecs.encodePngArgb(palAlpha)
    val palBack = MediaCodecs.decodePngAny(palBytes)
    assert(palBack.isDefined && palBack.get.colorType == 3)
    assert(palBack.get.argb.sameElements(palAlpha.argb))
    val bi = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(palBytes))
    for (i <- 0 until 30)
      assert(bi.getRGB(i % 6, i / 6) == palAlpha.argb(i), s"px$i")

    // splicing a SHORT tRNS onto an opaque palette frame: entry 0
    // becomes alpha 42, entries past the chunk stay opaque
    val opaque = colorPattern(6, 5, 9, alpha = false).copy(colorType = 3)
    val opaqueBytes = MediaCodecs.encodePngArgb(opaque)
    val spliced = spliceBeforeIdat(opaqueBytes, "tRNS", Array[Byte](42))
    val got = MediaCodecs.decodePngAny(spliced)
    assert(got.isDefined)
    val c0 = opaque.argb(0) & 0xffffff // palette entry 0 = first color
    got.get.argb.zip(opaque.argb).foreach { case (g, o) =>
      val expect = if ((o & 0xffffff) == c0) (42 << 24) | c0 else o
      assert(g == expect)
    }

    // gray color key (type 0): pixel value 10 occurs in the pattern
    // (x=1, y=0) and goes transparent
    val grayImg = pattern(8, 6, 3)
    assert(grayImg.pixels.contains(10)) // the key must actually bind
    val grayKeyed = spliceBeforeIdat(MediaCodecs.encodePng(grayImg),
      "tRNS", Array[Byte](0, 10))
    val gotGray = MediaCodecs.decodePngAny(grayKeyed)
    assert(gotGray.isDefined)
    gotGray.get.argb.zip(grayImg.pixels).foreach { case (g, v) =>
      assert((g >>> 24) == (if (v == 10) 0 else 0xff), s"gray v=$v")
      assert((g & 0xff) == v)
    }

    // RGB color key (type 2): one exact color goes transparent
    val tc = colorPattern(5, 5, 7, alpha = false)
    val key = tc.argb(3) & 0xffffff
    val keyChunk = Array[Byte](0, ((key >> 16) & 0xff).toByte,
      0, ((key >> 8) & 0xff).toByte, 0, (key & 0xff).toByte)
    val gotTc = MediaCodecs.decodePngAny(
      spliceBeforeIdat(MediaCodecs.encodePngArgb(tc), "tRNS", keyChunk))
    assert(gotTc.isDefined)
    gotTc.get.argb.zip(tc.argb).foreach { case (g, o) =>
      val expectA = if ((o & 0xffffff) == key) 0 else 0xff
      assert((g >>> 24) == expectA && (g & 0xffffff) == (o & 0xffffff))
    }

    // invalid: tRNS on the alpha-carrying type 6, oversized palette
    // tRNS, wrong-length color keys → quarantine
    val rgba = MediaCodecs.encodePngArgb(colorPattern(4, 4, 3,
      alpha = true))
    assert(MediaCodecs.decodePngAny(
      spliceBeforeIdat(rgba, "tRNS", Array[Byte](1))).isEmpty)
    assert(MediaCodecs.decodePngAny(spliceBeforeIdat(opaqueBytes,
      "tRNS", new Array[Byte](200))).isEmpty) // > palette entries
    assert(MediaCodecs.decodePngAny(spliceBeforeIdat(
      MediaCodecs.encodePng(grayImg), "tRNS", Array[Byte](5))).isEmpty)
  }

  test("non-8-bit depths decode: 16-bit gray and 1/2/4-bit palette " +
    "PNGs written by ImageIO (cross-author bytes) come back " +
    "sample-exact after depth rescale") {
    // 16-bit gray (TYPE_USHORT_GRAY → PNG bit depth 16): our high-byte
    // downsample must equal the raster's sample >> 8
    val w = 9; val h = 7
    val bi16 = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      bi16.getRaster.setSample(x, y, 0, (x * 7001 + y * 913) % 65536)
    val out16 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi16, "png", out16))
    val got16 = MediaCodecs.decodePngAny(out16.toByteArray)
    assert(got16.isDefined && got16.get.colorType == 0)
    for (y <- 0 until h; x <- 0 until w) {
      val expect = bi16.getRaster.getSample(x, y, 0) >> 8
      assert((got16.get.argb(y * w + x) & 0xff) == expect,
        s"16-bit ($x,$y)")
    }

    // 1/2/4-bit palette via IndexColorModel (ImageIO picks the PNG
    // bit depth from the map size); odd width exercises bit packing
    // across byte boundaries
    for (bits <- Seq(1, 2, 4)) {
      val n = 1 << bits
      val cmap = Array.tabulate(n)(i =>
        0xff000000 | ((i * 255 / (n - 1)) << 16) |
          ((255 - i * 255 / (n - 1)) << 8) | (i * 97 % 256))
      val icm = new java.awt.image.IndexColorModel(bits, n,
        cmap, 0, false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
      val bi = new java.awt.image.BufferedImage(5, 4,
        java.awt.image.BufferedImage.TYPE_BYTE_BINARY, icm)
      for (y <- 0 until 4; x <- 0 until 5)
        bi.getRaster.setSample(x, y, 0, (x + y * 3) % n)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, "png", out))
      val got = MediaCodecs.decodePngAny(out.toByteArray)
      assert(got.isDefined, s"$bits-bit")
      for (y <- 0 until 4; x <- 0 until 5)
        assert(got.get.argb(y * 5 + x) == bi.getRGB(x, y),
          s"$bits-bit ($x,$y)")
    }
  }

  test("16-bit truecolor decodes from a hand-built stream (ImageIO " +
    "cannot easily write one): high-byte downsample, filters applied " +
    "at the 6-byte stride") {
    // build a 3x3 depth-16 type-2 PNG by hand: IHDR, one IDAT with
    // filter-0/1/2 rows, IEND — CRC-valid, deflate via java.util.zip
    val w = 3; val h = 3
    val samples = Array.tabulate(h, w, 3)((y, x, c) =>
      (x * 12000 + y * 5000 + c * 777) % 65536)
    val stride = w * 6
    val plain = new Array[Byte](h * stride)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val v = samples(y)(x)(c)
      plain(y * stride + x * 6 + c * 2) = (v >> 8).toByte
      plain(y * stride + x * 6 + c * 2 + 1) = (v & 0xff).toByte
    }
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val f = y % 3 // None, Sub, Up — filters at fbpp = 6 bytes
      raw.write(f)
      for (k <- 0 until stride) {
        val cur = plain(y * stride + k) & 0xff
        val left = if (k >= 6) plain(y * stride + k - 6) & 0xff else 0
        val up = if (y > 0) plain((y - 1) * stride + k) & 0xff else 0
        raw.write((f match {
          case 0 => cur
          case 1 => cur - left
          case _ => cur - up
        }) & 0xff)
      }
    }
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes("US-ASCII"))
        .put(data).putInt(crc.getValue.toInt).array()
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw.toByteArray); d.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(16.toByte).put(2.toByte) // depth 16, truecolor
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte) ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", comp.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    val got = MediaCodecs.decodePngAny(png)
    assert(got.isDefined && got.get.colorType == 2)
    for (y <- 0 until h; x <- 0 until w) {
      val expect = 0xff000000 | ((samples(y)(x)(0) >> 8) << 16) |
        ((samples(y)(x)(1) >> 8) << 8) | (samples(y)(x)(2) >> 8)
      assert(got.get.argb(y * w + x) == expect, s"($x,$y)")
    }
    // ImageIO reads the same hand-built bytes to within ±1 per
    // channel: it rescales 16→8 with rounding, we take the spec's
    // high byte — the two differ by at most one count
    val bi = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    assert(bi != null && bi.getWidth == w && bi.getHeight == h)
    for (y <- 0 until h; x <- 0 until w; shift <- Seq(16, 8, 0)) {
      val io = (bi.getRGB(x, y) >> shift) & 0xff
      val ours = (got.get.argb(y * w + x) >> shift) & 0xff
      assert(math.abs(io - ours) <= 1, s"io ($x,$y) shift=$shift")
    }
  }

  test("color PNG quarantines: palette index past PLTE, " +
    "unrepresentable encodes reject loudly") {
    val pal = colorPattern(6, 5, 9, alpha = false).copy(colorType = 3)
    val bytes = MediaCodecs.encodePngArgb(pal)
    assert(MediaCodecs.decodePngAny(bytes).isDefined) // baseline sane
    // encoder contract: truecolor cannot carry alpha; >256 colors
    // cannot palette
    intercept[IllegalArgumentException] {
      MediaCodecs.encodePngArgb(
        colorPattern(4, 4, 3, alpha = true).copy(colorType = 2))
    }
    intercept[IllegalArgumentException] {
      // 300 genuinely distinct colors (a formula pattern cycles back to
      // ≤256 because every odd step has period 256 mod 256)
      MediaCodecs.encodePngArgb(MediaCodecs.PngImage(30, 10, 3,
        Array.tabulate(300)(i => 0xff000000 | i)))
    }
    // truncation and CRC flips quarantine exactly like grayscale
    assert(MediaCodecs.decodePngAny(bytes.take(bytes.length / 2)).isEmpty)
    val flipped = bytes.clone()
    flipped(20) = (flipped(20) ^ 0x7f).toByte
    assert(MediaCodecs.decodePngAny(flipped).isEmpty)
  }

  test("Adam7 interlaced PNG round trips pixel-exact for every color " +
    "type and for dims where passes go empty (1x1, 3x2, 8x8, 13x11)") {
    for (ct <- Seq(2, 3, 6);
         (w, h) <- Seq((1, 1), (3, 2), (8, 8), (13, 11))) {
      val img = colorPattern(w, h, seed = ct * 7 + w + h, alpha = ct == 6)
        .copy(colorType = ct)
      val bytes = MediaCodecs.encodePngArgb(img, interlaced = true)
      val back = MediaCodecs.decodePngAny(bytes)
      assert(back.isDefined, s"ct=$ct ${w}x$h")
      assert(back.get.argb.sameElements(img.argb), s"ct=$ct ${w}x$h")
      // cross-author: the JDK deinterlaces our Adam7 stream to the
      // same raster (its writer can't EMIT interlace, so encode is
      // covered by our decoder + ImageIO agreeing on the same bytes)
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(bi != null && bi.getWidth == w && bi.getHeight == h)
      for (i <- 0 until w * h)
        assert(bi.getRGB(i % w, i / w) == img.argb(i), s"ct=$ct px$i")
    }
  }

  test("ImageIODecoder decodes baseline JPEG payloads on a bare JVM " +
    "(the codec class MediaCodecs honestly excludes) and agrees with " +
    "PixelDecoder on lossless PNG") {
    // a real lossy JPEG, written by the JDK encoder
    val w = 16; val h = 12
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      bi.setRGB(x, y, (x * 16) << 16 | (y * 20) << 8 | 0x40)
    val jpegOut = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "jpg", jpegOut))
    val png = colorPattern(7, 5, 29, alpha = false)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", jpegOut.toByteArray),
      Multimodal.MediaRow(2L, "image", MediaCodecs.encodePngArgb(png)),
      Multimodal.MediaRow(3L, "image", "not an image".getBytes),
      Multimodal.MediaRow(4L, "image", null)
    ).toDF()
    val got = Multimodal.extractFeatures(media, Multimodal.ImageIODecoder)
      .collect().map(f => f.doc_id -> f).toMap
    // JPEG: dims are exact; pixels are lossy so only sanity-bound luma
    assert(got(1L).valid && got(1L).width == w && got(1L).height == h)
    assert(got(1L).checksum > 0 && got(1L).checksum < 255L * w * h)
    // PNG is lossless: ImageIO and our own decoder must agree exactly
    val own = Multimodal.extractFeatures(media, Multimodal.PixelDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    assert(got(2L).valid && own(2L).valid)
    assert(got(2L).checksum == own(2L).checksum)
    assert(got(2L).width == own(2L).width)
    assert(!got(3L).valid && !got(4L).valid)
  }

  test("colorStats through the plan: per-channel sums from DECODED " +
    "rasters across all three encodings; junk quarantines") {
    val imgs = Seq(
      1L -> colorPattern(7, 5, 11, alpha = false).copy(colorType = 2),
      2L -> colorPattern(6, 6, 13, alpha = false).copy(colorType = 3),
      3L -> colorPattern(5, 7, 15, alpha = true))
    val media = (imgs.map { case (id, img) =>
      Multimodal.MediaRow(id, "image", MediaCodecs.encodePngArgb(img))
    } :+ Multimodal.MediaRow(4L, "image", "junk".getBytes)).toDF()
    val rows = Multimodal.colorStats(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    imgs.foreach { case (id, img) =>
      val r = rows(id)
      assert(r.getBoolean(8), s"id=$id")
      assert(r.getInt(1) == img.colorType)
      assert(r.getLong(4) ==
        img.argb.map(p => ((p >> 16) & 0xff).toLong).sum, s"id=$id r")
      assert(r.getLong(5) ==
        img.argb.map(p => ((p >> 8) & 0xff).toLong).sum, s"id=$id g")
      assert(r.getLong(6) == img.argb.map(p => (p & 0xff).toLong).sum,
        s"id=$id b")
      assert(r.getLong(7) == img.argb.map(p => (p >>> 24).toLong).sum,
        s"id=$id a")
    }
    assert(!rows(4L).getBoolean(8))
  }
}
