package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{CRC32, Deflater, Inflater}

/** Pure-JVM media codecs — REAL decode, not stubs: these parse the
  * actual container formats byte-for-byte using only the JDK
  * (`java.util.zip` supplies the zlib half of PNG), so the multimodal
  * pipeline's bytes→pixels / bytes→samples step runs for real on any
  * executor with no native codec libraries installed.
  *
  * Honest scope (documented, enforced by returning None):
  *  - PNG: the COMPLETE baseline matrix — every legal (color type ×
  *    bit depth) combination of spec Table 11.1 (grayscale 1/2/4/8/16,
  *    palette 1/2/4/8 via PLTE, truecolor / gray+alpha / RGBA 8/16),
  *    both non-interlaced and Adam7-interlaced — full chunk walk with
  *    CRC verification, IDAT reassembly, zlib inflate, and
  *    per-scanline reconstruction of all five filter types (None /
  *    Sub / Up / Average / Paeth) at the combination's byte stride,
  *    per pass for Adam7. Output is packed 8-bit ARGB (16-bit samples
  *    downscale via high byte; sub-8-bit gray scales by 255/(2^d−1),
  *    exact). tRNS transparency decodes in all three forms it exists
  *    in: palette alpha (type 3, also emitted by the encoder when a
  *    palette frame carries alpha), and gray/RGB color keys (types
  *    0/2, compared at source depth). The encoders (8-bit output)
  *    cycle the filter type per row precisely so a round trip
  *    exercises every unfilter branch; non-8-bit depths are
  *    decode-only, cross-validated against ImageIO-encoded streams.
  *  - BMP: 24-bit uncompressed BITMAPINFOHEADER, bottom-up rows with
  *    4-byte padding; luma is the integer mean of the three channels.
  *  - WAV: PCM 16-bit signed little-endian mono (RIFF chunk walk; fmt
  *    and data located by id, not fixed offset, with RIFF even-byte
  *    chunk padding honored).
  *  - GIF: animated GIF87a/89a with full LZW, global and local
  *    palettes, interlace and per-frame delays; pixels decode to
  *    palette-mean luma.
  * Anything else (compressed BMP, multi-channel or float WAV, video)
  * decodes to None and flows to the quarantine path
  * ([[graft.operators.Multimodal.MediaDecoder]] contract). JPEG is not
  * here: [[graft.operators.Multimodal.PixelDecoder]] reads it with the
  * JDK's `jpeg` ImageReader, which every JRE ships.
  *
  * Why PNG and GIF stay hand-written although the JDK reads both: the
  * JDK's PNG reader accepts streams whose IDAT or IEND CRC is wrong,
  * which [[decodePngAny]] quarantines; and its GIF reader, while it
  * agrees with [[decodeGif]] frame for frame, is several times slower
  * on q102-shaped payloads.
  *
  * Decoders never throw on corrupt input: truncated payloads, bad
  * magic, CRC mismatches, and over/under-sized pixel data all yield
  * None — one corrupt blob must not fail a 100 TB scan.
  */
object MediaCodecs {

  /** 8-bit grayscale raster, row-major, values 0-255. */
  final case class GrayImage(width: Int, height: Int, pixels: Array[Int])

  /** 16-bit signed PCM mono clip. */
  final case class PcmAudio(sampleRate: Int, samples: Array[Int])

  // ------------------------------------------------------------------ PNG

  private val PngSig: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Encode as 8-bit grayscale PNG. The scanline filter cycles
    * `y % 5` — a decoded round trip therefore proves every filter
    * reconstruction (None/Sub/Up/Average/Paeth), not just the trivial
    * one. */
  def encodePng(img: GrayImage): Array[Byte] = {
    require(img.width > 0 && img.height > 0 &&
      img.pixels.length == img.width * img.height,
      s"pixel buffer must be width*height (${img.width}x${img.height})")
    val w = img.width
    val raw = new Array[Byte](img.height * (w + 1))
    var y = 0
    while (y < img.height) {
      val f = y % 5
      raw(y * (w + 1)) = f.toByte
      var x = 0
      while (x < w) {
        val cur = img.pixels(y * w + x)
        val left = if (x > 0) img.pixels(y * w + x - 1) else 0
        val up = if (y > 0) img.pixels((y - 1) * w + x) else 0
        val ul = if (x > 0 && y > 0) img.pixels((y - 1) * w + x - 1) else 0
        val filtered = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, ul)
        }
        raw(y * (w + 1) + 1 + x) = (filtered & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val ihdr = ByteBuffer.allocate(13)
    ihdr.putInt(img.width).putInt(img.height)
      .put(8.toByte)  // bit depth
      .put(0.toByte)  // color type 0 = grayscale
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/none
    val out = new ByteArrayOutputStream()
    out.write(PngSig)
    writeChunk(out, "IHDR", ihdr.array())
    writeChunk(out, "IDAT", deflate(raw))
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode an 8-bit grayscale PNG; None for anything out of scope
    * (including color types other than 0) or corrupt. The narrow typed
    * view over [[decodePngAny]] for gray-only consumers. */
  def decodePng(bytes: Array[Byte]): Option[GrayImage] =
    decodePngAny(bytes).collect {
      case img if img.colorType == 0 =>
        // type-0 argb packs (255, v, v, v); any channel is the gray value
        GrayImage(img.width, img.height, img.argb.map(_ & 0xff))
    }

  /** Decoded PNG in packed ARGB (0xAARRGGBB), any supported color
    * type. `colorType` is the source's IHDR type so callers can tell a
    * grayscale original from truecolor. */
  final case class PngImage(width: Int, height: Int, colorType: Int,
                            argb: Array[Int])

  /** Bytes per pixel for the supported 8-bit color types; -1 = out of
    * scope. */
  private def pngBpp(colorType: Int): Int = colorType match {
    case 0 => 1 // grayscale
    case 2 => 3 // truecolor RGB
    case 3 => 1 // palette index
    case 4 => 2 // gray + alpha
    case 6 => 4 // RGBA
    case _ => -1
  }

  /** Decode any baseline PNG — every legal (color type × bit depth)
    * combination of spec Table 11.1 (gray 1/2/4/8/16, palette 1/2/4/8,
    * truecolor/gray-alpha/RGBA 8/16), linear or Adam7 — to packed
    * 8-bit ARGB (16-bit samples downscale via their high byte, the
    * spec's sample-depth scaling; sub-8-bit gray scales by
    * 255/(2^d −1), exact integers). None for corrupt input (bad
    * signature, failed chunk CRC, truncated IDAT, wrong reconstructed
    * length, unknown filter, palette index past PLTE, misplaced
    * tRNS). */
  def decodePngAny(bytes: Array[Byte]): Option[PngImage] = {
    if (bytes.length < 8 || !bytes.take(8).sameElements(PngSig)) return None
    var pos = 8
    var w = -1; var h = -1; var bitDepth = -1
    var colorType = -1; var interlace = -1
    var palette: Array[Int] = null
    var trns: Array[Byte] = null
    val idat = new ByteArrayOutputStream()
    var done = false
    while (!done && pos + 12 <= bytes.length) {
      val len = be32(bytes, pos)
      // Long arithmetic: a crafted len near Int.MaxValue wraps an Int
      // sum negative and slips past the bound into an AIOOBE in
      // crc.update — the never-throw contract dies with it
      if (len < 0 || pos.toLong + 12 + len > bytes.length) return None
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      val crc = new CRC32()
      crc.update(bytes, pos + 4, 4 + len)
      if (crc.getValue != (be32(bytes, pos + 8 + len) & 0xffffffffL))
        return None
      typ match {
        case "IHDR" =>
          if (len != 13) return None
          w = be32(bytes, pos + 8); h = be32(bytes, pos + 12)
          bitDepth = bytes(pos + 16) & 0xff
          colorType = bytes(pos + 17) & 0xff
          interlace = bytes(pos + 20) & 0xff
        case "PLTE" =>
          if (len % 3 != 0 || len > 256 * 3) return None
          palette = Array.tabulate(len / 3)(i =>
            0xff000000 | ((bytes(pos + 8 + 3 * i) & 0xff) << 16) |
              ((bytes(pos + 9 + 3 * i) & 0xff) << 8) |
              (bytes(pos + 10 + 3 * i) & 0xff))
        case "tRNS" =>
          trns = java.util.Arrays.copyOfRange(bytes, pos + 8,
            pos + 8 + len)
        case "IDAT" => idat.write(bytes, pos + 8, len)
        case "IEND" => done = true
        case _ => () // ancillary chunks pass through
      }
      pos += 12 + len
    }
    val channels = pngBpp(colorType)
    // legal (color type × bit depth) combinations, spec Table 11.1
    val depthOk = colorType match {
      case 0 => Seq(1, 2, 4, 8, 16).contains(bitDepth)
      case 3 => Seq(1, 2, 4, 8).contains(bitDepth)
      case 2 | 4 | 6 => bitDepth == 8 || bitDepth == 16
      case _ => false
    }
    if (!done || w <= 0 || h <= 0 || channels < 0 || !depthOk ||
      interlace > 1 || interlace < 0) return None
    if (colorType == 3 && palette == null) return None
    // tRNS validity per spec §11.3.2: palette alpha (≤ PLTE entries)
    // for type 3, a 2-byte gray / 6-byte RGB color key for types 0/2,
    // prohibited for the alpha-carrying types 4/6
    if (trns != null) colorType match {
      case 3 => if (palette == null || trns.length > palette.length)
        return None
      case 0 => if (trns.length != 2) return None
      case 2 => if (trns.length != 6) return None
      case _ => return None
    }
    val mask = (1 << bitDepth) - 1 // full-depth sample mask
    // color keys carry 2-byte samples at SOURCE depth; compare against
    // raw (pre-scaling) samples. -1 never matches a raw sample.
    def keyAt(o: Int): Int =
      (((trns(o) & 0xff) << 8) | (trns(o + 1) & 0xff)) & mask
    val grayKey = if (trns != null && colorType == 0) keyAt(0) else -1
    val (rKey, gKey, bKey) =
      if (trns != null && colorType == 2) (keyAt(0), keyAt(2), keyAt(4))
      else (-1, -1, -1)
    // geometry in BITS: a pixel is bitDepth×channels bits; the filter
    // byte-unit is max(1, bits/8) (sub-byte pixels filter per byte,
    // spec §9.2); scanlines pad to whole bytes per pass
    val bitsPP = bitDepth * channels
    val fbpp = math.max(1, bitsPP / 8)
    def strideOf(pw: Int): Int = (pw * bitsPP + 7) / 8
    // pass layout: one full-image pass, or the seven Adam7 sub-images
    // (each an independent group of filtered scanlines)
    val passes = if (interlace == 0) Seq((0, 0, 1, 1)) else Adam7
    def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
      val (xo, yo, xs, ys) = p
      (if (w > xo) (w - xo + xs - 1) / xs else 0,
        if (h > yo) (h - yo + ys - 1) / ys else 0)
    }
    val expect = passes.map { p =>
      val (pw, ph) = passDims(p)
      if (pw > 0 && ph > 0) ph.toLong * (strideOf(pw) + 1L) else 0L
    }.sum
    if (expect > Int.MaxValue) return None
    val inflated = inflate(idat.toByteArray, expect.toInt)
    if (inflated.length != expect.toInt) return None
    val px = new Array[Int](w * h)
    var off = 0
    passes.foreach { case p @ (xo, yo, xs, ys) =>
      val (pw, ph) = passDims(p)
      if (pw > 0 && ph > 0) {
        val stride = strideOf(pw)
        val passLen = ph * (stride + 1)
        val raw = unfilter(
          java.util.Arrays.copyOfRange(inflated, off, off + passLen),
          ph, stride, fbpp).getOrElse(return None)
        off += passLen
        if (bitDepth == 8) {
          // FAST PATH — direct byte addressing for the dominant
          // production depth (stride == pw·channels exactly): the
          // generic bit-addressed sampler below measured 3× slower on
          // the ScaleCheck png_color_roundtrip row, and depth-8 is
          // the hot 100 TB case
          var i = 0
          while (i < pw * ph) {
            val o = i * channels
            val v = colorType match {
              case 0 =>
                val g = raw(o) & 0xff
                val a = if (g == grayKey) 0 else 0xff
                (a << 24) | (g << 16) | (g << 8) | g
              case 2 =>
                val r0 = raw(o) & 0xff
                val g0 = raw(o + 1) & 0xff
                val b0 = raw(o + 2) & 0xff
                val a = if (r0 == rKey && g0 == gKey && b0 == bKey) 0
                  else 0xff
                (a << 24) | (r0 << 16) | (g0 << 8) | b0
              case 3 =>
                val idx = raw(o) & 0xff
                if (idx >= palette.length) return None
                val a = if (trns != null && idx < trns.length)
                  trns(idx) & 0xff else 0xff
                (a << 24) | (palette(idx) & 0xffffff)
              case 4 =>
                val g = raw(o) & 0xff
                ((raw(o + 1) & 0xff) << 24) | (g << 16) | (g << 8) | g
              case _ => // 6
                ((raw(o + 3) & 0xff) << 24) | ((raw(o) & 0xff) << 16) |
                  ((raw(o + 1) & 0xff) << 8) | (raw(o + 2) & 0xff)
            }
            px((yo + (i / pw) * ys) * w + (xo + (i % pw) * xs)) = v
            i += 1
          }
        } else {
          // generic bit-addressed path for 1/2/4/16-bit depths
          var i = 0
          while (i < pw * ph) {
            val rowOff = (i / pw) * stride
            // full-depth sample s of the pass pixel (big-endian bit
            // order within bytes per spec §7.2)
            def samp(s: Int): Int = {
              val bitOff = (i % pw) * bitsPP + s * bitDepth
              val o = rowOff + (bitOff >> 3)
              bitDepth match {
                case 16 => ((raw(o) & 0xff) << 8) | (raw(o + 1) & 0xff)
                case d =>
                  ((raw(o) & 0xff) >> (8 - d - (bitOff & 7))) & mask
              }
            }
            // scale a raw sample to 8 bits: high byte for 16 (the
            // spec's depth rescale), exact ·255/(2^d−1) below 8
            def to8(v: Int): Int =
              if (bitDepth == 16) v >> 8 else v * 255 / mask
            val v = colorType match {
              case 0 =>
                val raw0 = samp(0)
                val g = to8(raw0)
                val a = if (raw0 == grayKey) 0 else 0xff
                (a << 24) | (g << 16) | (g << 8) | g
              case 2 =>
                val (r0, g0, b0) = (samp(0), samp(1), samp(2))
                val a = if (r0 == rKey && g0 == gKey && b0 == bKey) 0
                  else 0xff
                (a << 24) | (to8(r0) << 16) | (to8(g0) << 8) | to8(b0)
              case 3 =>
                val idx = samp(0)
                if (idx >= palette.length) return None
                val a = if (trns != null && idx < trns.length)
                  trns(idx) & 0xff else 0xff
                (a << 24) | (palette(idx) & 0xffffff)
              case 4 =>
                val g = to8(samp(0))
                (to8(samp(1)) << 24) | (g << 16) | (g << 8) | g
              case _ => // 6
                (to8(samp(3)) << 24) | (to8(samp(0)) << 16) |
                  (to8(samp(1)) << 8) | to8(samp(2))
            }
            px((yo + (i / pw) * ys) * w + (xo + (i % pw) * xs)) = v
            i += 1
          }
        }
      }
    }
    Some(PngImage(w, h, colorType, px))
  }

  /** Adam7 pass offsets/strides (PNG spec §8.2): (xoff, yoff, xstep,
    * ystep) per pass, in stream order. */
  private val Adam7: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Reconstruct filtered scanlines (1 filter byte + `stride` sample
    * bytes per row) at byte-pixel width `bpp` — the "left" neighbor of
    * a sample byte is the same channel byte `bpp` positions back, per
    * PNG spec §9. None on an unknown filter type. */
  private def unfilter(raw: Array[Byte], h: Int, stride: Int,
                       bpp: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val f = raw(y * (stride + 1)) & 0xff
      if (f > 4) return None
      var k = 0
      while (k < stride) {
        val v = raw(y * (stride + 1) + 1 + k) & 0xff
        val left = if (k >= bpp) out(y * stride + k - bpp) & 0xff else 0
        val up = if (y > 0) out((y - 1) * stride + k) & 0xff else 0
        val ul =
          if (k >= bpp && y > 0) out((y - 1) * stride + k - bpp) & 0xff
          else 0
        val rec = f match {
          case 0 => v
          case 1 => v + left
          case 2 => v + up
          case 3 => v + (left + up) / 2
          case _ => v + paeth(left, up, ul)
        }
        out(y * stride + k) = (rec & 0xff).toByte
        k += 1
      }
      y += 1
    }
    Some(out)
  }

  /** Filter sample rows for encoding (the inverse of [[unfilter]]):
    * 1 filter byte + `stride` sample bytes per row, filter type cycling
    * `y % 5` so a decode round trip exercises every reconstruction
    * branch. */
  private def filterRows(plain: Array[Byte], h: Int, stride: Int,
                         bpp: Int): Array[Byte] = {
    val raw = new Array[Byte](h * (stride + 1))
    var y = 0
    while (y < h) {
      val f = y % 5
      raw(y * (stride + 1)) = f.toByte
      var k = 0
      while (k < stride) {
        val cur = plain(y * stride + k) & 0xff
        val left = if (k >= bpp) plain(y * stride + k - bpp) & 0xff else 0
        val up = if (y > 0) plain((y - 1) * stride + k) & 0xff else 0
        val ul =
          if (k >= bpp && y > 0) plain((y - 1) * stride + k - bpp) & 0xff
          else 0
        val filtered = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, ul)
        }
        raw(y * (stride + 1) + 1 + k) = (filtered & 0xff).toByte
        k += 1
      }
      y += 1
    }
    raw
  }

  /** Encode packed-ARGB pixels as PNG color type 2 (truecolor), 3
    * (palette), or 6 (RGBA). Type 2/3 require fully opaque pixels
    * (alpha 0xff) — they cannot represent alpha; type 3 additionally
    * requires ≤256 distinct colors. The scanline filter cycles `y % 5`
    * (same coverage trick as [[encodePng]]). With `interlaced` the
    * stream is written Adam7 (7 sub-image passes, each independently
    * filtered) — the JDK's PNG writer cannot emit interlace, so this
    * encoder is what exercises the deinterlacing decode path. */
  def encodePngArgb(img: PngImage, interlaced: Boolean = false): Array[Byte] = {
    val w = img.width; val h = img.height; val ct = img.colorType
    require(w > 0 && h > 0 && img.argb.length == w * h,
      s"pixel buffer must be width*height (${w}x$h)")
    require(ct == 2 || ct == 3 || ct == 6,
      s"encodePngArgb supports color types 2/3/6, got $ct")
    // truecolor has no alpha channel; palette carries alpha via tRNS
    if (ct == 2) require(img.argb.forall(p => (p >>> 24) == 0xff),
      s"color type 2 cannot represent alpha")
    val palette: Array[Int] =
      if (ct == 3) {
        val distinct = scala.collection.mutable.LinkedHashSet.empty[Int]
        img.argb.foreach(distinct += _)
        require(distinct.size <= 256,
          s"palette PNG needs ≤256 distinct colors, got ${distinct.size}")
        distinct.toArray
      } else null
    val palIdx: java.util.HashMap[Integer, Integer] =
      if (ct == 3) {
        val m = new java.util.HashMap[Integer, Integer]()
        palette.zipWithIndex.foreach { case (c, i) => m.put(c, i) }
        m
      } else null
    val bpp = pngBpp(ct)
    val stride = w * bpp
    // unfiltered sample bytes first, then filter row-by-row
    val plain = new Array[Byte](h * stride)
    var i = 0
    while (i < w * h) {
      val p = img.argb(i); val o = i * bpp
      ct match {
        case 2 =>
          plain(o) = ((p >> 16) & 0xff).toByte
          plain(o + 1) = ((p >> 8) & 0xff).toByte
          plain(o + 2) = (p & 0xff).toByte
        case 3 => plain(o) = palIdx.get(p).intValue().toByte
        case _ =>
          plain(o) = ((p >> 16) & 0xff).toByte
          plain(o + 1) = ((p >> 8) & 0xff).toByte
          plain(o + 2) = (p & 0xff).toByte
          plain(o + 3) = (p >>> 24).toByte
      }
      i += 1
    }
    val raw: Array[Byte] =
      if (!interlaced) filterRows(plain, h, w * bpp, bpp)
      else {
        // Adam7: each pass is the sub-image at (xoff+j*xstep,
        // yoff+i*ystep), filtered independently
        val out = new ByteArrayOutputStream()
        Adam7.foreach { case (xo, yo, xs, ys) =>
          val pw = if (w > xo) (w - xo + xs - 1) / xs else 0
          val ph = if (h > yo) (h - yo + ys - 1) / ys else 0
          if (pw > 0 && ph > 0) {
            val sub = new Array[Byte](ph * pw * bpp)
            var i = 0
            while (i < pw * ph) {
              val src = ((yo + (i / pw) * ys) * w +
                (xo + (i % pw) * xs)) * bpp
              System.arraycopy(plain, src, sub, i * bpp, bpp)
              i += 1
            }
            out.write(filterRows(sub, ph, pw * bpp, bpp))
          }
        }
        out.toByteArray
      }
    val ihdr = ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
      .put(8.toByte).put(ct.toByte)
      .put(0.toByte).put(0.toByte) // deflate / adaptive filtering
      .put(if (interlaced) 1.toByte else 0.toByte)
    val out = new ByteArrayOutputStream()
    out.write(PngSig)
    writeChunk(out, "IHDR", ihdr.array())
    if (ct == 3) {
      val plte = new Array[Byte](palette.length * 3)
      palette.zipWithIndex.foreach { case (c, pi) =>
        plte(3 * pi) = ((c >> 16) & 0xff).toByte
        plte(3 * pi + 1) = ((c >> 8) & 0xff).toByte
        plte(3 * pi + 2) = (c & 0xff).toByte
      }
      writeChunk(out, "PLTE", plte)
      // palette alpha rides in tRNS (one byte per entry); omitted when
      // every entry is opaque — entries past the chunk default to 255
      if (palette.exists(c => (c >>> 24) != 0xff))
        writeChunk(out, "tRNS",
          palette.map(c => (c >>> 24).toByte))
    }
    writeChunk(out, "IDAT", deflate(raw))
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Paeth predictor (PNG spec §9.4): the neighbor closest to
    * left + up − upleft, ties resolved left, up, upleft. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def writeChunk(out: ByteArrayOutputStream, typ: String,
                         data: Array[Byte]): Unit = {
    val t = typ.getBytes("US-ASCII")
    out.write(ByteBuffer.allocate(4).putInt(data.length).array())
    out.write(t)
    out.write(data)
    val crc = new CRC32()
    crc.update(t); crc.update(data)
    out.write(ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Inflate with a hard output cap: a corrupt stream must neither
    * throw (DataFormatException is caught to a short result, which the
    * caller's length check rejects) nor balloon past the expected
    * raster size. */
  private def inflate(comp: Array[Byte], expect: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(comp)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    try {
      var stalled = false
      while (!inf.finished() && !stalled && out.size() <= expect) {
        val n = inf.inflate(buf)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          stalled = true // truncated or dictionary-requiring stream
        else out.write(buf, 0, n)
      }
    } catch {
      case _: java.util.zip.DataFormatException => () // corrupt → short
    } finally inf.end()
    out.toByteArray
  }

  private def be32(b: Array[Byte], pos: Int): Int =
    ((b(pos) & 0xff) << 24) | ((b(pos + 1) & 0xff) << 16) |
      ((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)

  // ------------------------------------------------------------------ BMP

  /** Encode as 24-bit uncompressed BMP (gray replicated to B=G=R),
    * bottom-up rows padded to 4 bytes — the layout every BMP reader
    * expects. */
  def encodeBmp(img: GrayImage): Array[Byte] = {
    require(img.width > 0 && img.height > 0 &&
      img.pixels.length == img.width * img.height,
      s"pixel buffer must be width*height (${img.width}x${img.height})")
    val rowSize = (img.width * 3 + 3) / 4 * 4
    val dataSize = rowSize * img.height
    val b = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54) // reserved, pixel-data offset
    b.putInt(40).putInt(img.width).putInt(img.height) // BITMAPINFOHEADER
      .putShort(1).putShort(24).putInt(0).putInt(dataSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 DPI, no palette
    var y = img.height - 1
    while (y >= 0) { // bottom-up
      var x = 0
      while (x < img.width) {
        val v = (img.pixels(y * img.width + x) & 0xff).toByte
        b.put(v).put(v).put(v) // B, G, R
        x += 1
      }
      var pad = rowSize - img.width * 3
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      y -= 1
    }
    b.array()
  }

  /** Decode a 24-bit uncompressed bottom-up BMP to grayscale (integer
    * mean of B, G, R); None out of scope or truncated. */
  def decodeBmp(bytes: Array[Byte]): Option[GrayImage] = {
    if (bytes.length < 54 || bytes(0) != 'B'.toByte ||
      bytes(1) != 'M'.toByte) return None
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val offset = b.getInt(10)
    val headerSize = b.getInt(14)
    val w = b.getInt(18)
    val h = b.getInt(22)
    val planes = b.getShort(26)
    val bpp = b.getShort(28)
    val compression = b.getInt(30)
    if (headerSize < 40 || w <= 0 || h <= 0 || planes != 1 || bpp != 24 ||
      compression != 0 || offset < 54) return None
    // all sizing in Long: header dims are attacker-controlled, and an
    // Int w*3 / w*h overflow would wrap the bounds check into a
    // NegativeArraySizeException / multi-GB allocation
    val rowSizeL = (w.toLong * 3 + 3) / 4 * 4
    if (offset.toLong + rowSizeL * h > bytes.length) return None
    val rowSize = rowSizeL.toInt // 3*w*h fits in the payload → Int-safe
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val rowStart = offset + (h - 1 - y) * rowSize // stored bottom-up
      var x = 0
      while (x < w) {
        val blue = bytes(rowStart + x * 3) & 0xff
        val green = bytes(rowStart + x * 3 + 1) & 0xff
        val red = bytes(rowStart + x * 3 + 2) & 0xff
        px(y * w + x) = (blue + green + red) / 3
        x += 1
      }
      y += 1
    }
    Some(GrayImage(w, h, px))
  }

  // ------------------------------------------------------------------ WAV

  /** Encode as canonical 44-byte-header RIFF/WAVE, PCM 16-bit mono. */
  def encodeWav(a: PcmAudio): Array[Byte] = {
    require(a.sampleRate > 0, "sampleRate must be positive")
    val dataSize = a.samples.length * 2
    val b = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                    // PCM
      .putShort(1)                    // mono
      .putInt(a.sampleRate)
      .putInt(a.sampleRate * 2)       // byte rate
      .putShort(2)                    // block align
      .putShort(16)                   // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    a.samples.foreach(s => b.putShort(s.toShort))
    b.array()
  }

  /** Decode PCM 16-bit mono WAV via a real RIFF chunk walk (fmt/data
    * located by id with even-byte padding, never fixed offsets — files
    * with LIST/INFO chunks decode fine); None for non-PCM, non-mono,
    * non-16-bit, or truncated payloads. */
  def decodeWav(bytes: Array[Byte]): Option[PcmAudio] = {
    if (bytes.length < 12) return None
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (!chunkId(bytes, 0, "RIFF") || !chunkId(bytes, 8, "WAVE")) return None
    var pos = 12
    var sampleRate = -1
    var fmtOk = false
    var samples: Array[Int] = null
    while (pos + 8 <= bytes.length) {
      val size = b.getInt(pos + 4)
      // Long arithmetic: a chunk size near Int.MaxValue wraps the Int
      // sum negative, passing the check into an OOM-sized allocation,
      // out-of-bounds reads, or a negative pos on the next iteration
      if (size < 0 || pos.toLong + 8 + size > bytes.length) return None
      if (chunkId(bytes, pos, "fmt ")) {
        if (size < 16) return None
        val audioFormat = b.getShort(pos + 8)
        val channels = b.getShort(pos + 10)
        sampleRate = b.getInt(pos + 12)
        val bits = b.getShort(pos + 22)
        fmtOk = audioFormat == 1 && channels == 1 && bits == 16 &&
          sampleRate > 0
      } else if (chunkId(bytes, pos, "data")) {
        val n = size / 2
        samples = new Array[Int](n)
        var i = 0
        while (i < n) { samples(i) = b.getShort(pos + 8 + i * 2).toInt; i += 1 }
      }
      pos += 8 + size + (size & 1) // RIFF chunks pad to even length
    }
    if (fmtOk && samples != null) Some(PcmAudio(sampleRate, samples))
    else None
  }

  private def chunkId(bytes: Array[Byte], pos: Int, id: String): Boolean =
    bytes.length >= pos + 4 &&
      new String(bytes, pos, 4, "US-ASCII") == id

  // ------------------------------------------------------------------ GIF

  /** One animation frame: sub-rectangle position within the logical
    * screen, grayscale pixels (palette-mean luma on decode), delay in
    * centiseconds from the preceding Graphic Control Extension. */
  final case class GifFrame(x: Int, y: Int, width: Int, height: Int,
                            pixels: Array[Int], delayCs: Int)

  /** Encode an animated GIF89a: 256-entry grayscale global palette
    * (index == gray value, so round trips are value-exact) and REAL
    * LZW compression — full dictionary build with code-width growth
    * and table-full reset, not a literals-only stream. Validated in
    * MediaCodecsSpec against the JDK's independent ImageIO decoder,
    * not only against [[decodeGif]] (a same-author round trip could
    * mask symmetric codec bugs). */
  def encodeGif(screenW: Int, screenH: Int,
                frames: Seq[GifFrame]): Array[Byte] = {
    require(screenW > 0 && screenH > 0 && frames.nonEmpty,
      "need positive screen dims and at least one frame")
    frames.foreach { f =>
      require(f.width > 0 && f.height > 0 &&
        f.pixels.length == f.width * f.height,
        "frame pixel buffer must be width*height")
    }
    val out = new ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(screenW); le16(screenH)
    out.write(0xf7) // GCT present, 8 bits/channel, 256 entries
    out.write(0)    // background index
    out.write(0)    // aspect
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    frames.foreach { f =>
      // Graphic Control Extension (delay)
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0) // no disposal/transparency
      le16(f.delayCs); out.write(0); out.write(0)
      // Image Descriptor
      out.write(0x2c)
      le16(f.x); le16(f.y); le16(f.width); le16(f.height)
      out.write(0) // no local table, not interlaced
      out.write(8) // LZW minimum code size (256-entry palette)
      writeSubBlocks(out, lzwEncode(f.pixels, minCode = 8))
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Decode a GIF (87a or 89a) to (screenW, screenH, frames): real LZW
    * decompression with code-width growth, table-full (deferred-clear)
    * handling, global/local palettes, and interlace row reordering.
    * Luma is the integer mean of the palette RGB; GCE transparency is
    * ignored for luma (a stats decoder, not a compositor). None on
    * anything malformed or truncated. */
  def decodeGif(bytes: Array[Byte])
      : Option[(Int, Int, Seq[GifFrame])] = {
    if (bytes.length < 13) return None
    val magic = new String(bytes, 0, 6, "US-ASCII")
    if (magic != "GIF87a" && magic != "GIF89a") return None
    def u8(p: Int): Int = bytes(p) & 0xff
    def le16(p: Int): Int = u8(p) | (u8(p + 1) << 8)
    val screenW = le16(6); val screenH = le16(8)
    val packed = u8(10)
    var pos = 13
    var global: Array[Int] = null // luma per palette index
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 7) + 1)
      if (pos + 3 * n > bytes.length) return None
      global = readPalette(bytes, pos, n)
      pos += 3 * n
    }
    val frames = Seq.newBuilder[GifFrame]
    var delayCs = 0
    while (pos < bytes.length) {
      u8(pos) match {
        case 0x3b => // trailer
          return Some((screenW, screenH, frames.result()))
        case 0x21 => // extension: label + sub-blocks to terminator
          if (pos + 2 > bytes.length) return None
          val label = u8(pos + 1)
          pos += 2
          if (label == 0xf9 && pos + 6 <= bytes.length && u8(pos) == 4)
            delayCs = le16(pos + 2) // GCE: size(4) packed delay(2) tidx
          while (pos < bytes.length && u8(pos) != 0)
            pos += 1 + u8(pos) // skip sub-block
          if (pos >= bytes.length) return None
          pos += 1 // terminator
        case 0x2c => // image descriptor
          if (pos + 10 > bytes.length) return None
          val fx = le16(pos + 1); val fy = le16(pos + 3)
          val fw = le16(pos + 5); val fh = le16(pos + 7)
          val fp = u8(pos + 9)
          pos += 10
          var palette = global
          if ((fp & 0x80) != 0) {
            val n = 1 << ((fp & 7) + 1)
            if (pos + 3 * n > bytes.length) return None
            palette = readPalette(bytes, pos, n)
            pos += 3 * n
          }
          if (palette == null || fw <= 0 || fh <= 0) return None
          // dims are attacker-controlled le16s: 65535×65535 wraps
          // fw*fh negative (NegativeArraySizeException), and even
          // non-wrapping monsters would allocate GBs before any pixel
          // data is validated. 16M pixels (4096²) bounds every sane
          // frame; beyond is out of scope → quarantine
          if (fw.toLong * fh > (1 << 24)) return None
          if (pos >= bytes.length) return None
          val minCode = u8(pos)
          pos += 1
          if (minCode < 2 || minCode > 8) return None
          // concatenate the data sub-blocks
          val data = new ByteArrayOutputStream()
          while (pos < bytes.length && u8(pos) != 0) {
            val n = u8(pos)
            if (pos + 1 + n > bytes.length) return None
            data.write(bytes, pos + 1, n)
            pos += 1 + n
          }
          if (pos >= bytes.length) return None
          pos += 1 // terminator
          val indices = lzwDecode(data.toByteArray, minCode, fw * fh)
          if (indices == null) return None
          val rows =
            if ((fp & 0x40) != 0) deinterlace(indices, fw, fh) else indices
          val px = new Array[Int](fw * fh)
          var i = 0
          while (i < px.length) {
            val idx = rows(i) & 0xff
            if (idx >= palette.length) return None
            px(i) = palette(idx)
            i += 1
          }
          frames += GifFrame(fx, fy, fw, fh, px, delayCs)
          delayCs = 0
        case _ => return None // desynced block stream
      }
    }
    None // ran out of bytes before the trailer
  }

  private def readPalette(b: Array[Byte], pos: Int, n: Int): Array[Int] =
    Array.tabulate(n) { i =>
      ((b(pos + 3 * i) & 0xff) + (b(pos + 3 * i + 1) & 0xff) +
        (b(pos + 3 * i + 2) & 0xff)) / 3
    }

  /** GIF interlace: rows arrive in four passes (8/8 from 0, 8/8 from
    * 4, 4/4 from 2, 2/2 from 1); reorder into display order. */
  private def deinterlace(src: Array[Byte], w: Int, h: Int)
      : Array[Byte] = {
    val dst = new Array[Byte](src.length)
    var srcRow = 0
    for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
      var y = start
      while (y < h) {
        System.arraycopy(src, srcRow * w, dst, y * w, w)
        srcRow += 1; y += step
      }
    }
    dst
  }

  /** GIF-LZW compress (indices < 2^minCode): dictionary of
    * (prefix code, next byte) → code, code width grows when the next
    * emitted code could exceed it (encoder bumps at next == 2^width+1,
    * the decoder — adding entries one code behind — at 2^width; the
    * pair stays bit-synchronized), table reset via CLEAR at 4096. */
  private def lzwEncode(pixels: Array[Int], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val bits = new BitWriter
    var codeSize = minCode + 1
    var next = eoi + 1
    val dict = new java.util.HashMap[Integer, Integer]()
    def key(prefix: Int, k: Int): Integer = (prefix << 8) | k
    bits.write(clear, codeSize)
    var cur = pixels(0) & 0xff
    var i = 1
    while (i < pixels.length) {
      val k = pixels(i) & 0xff
      val hit = dict.get(key(cur, k))
      if (hit != null) cur = hit
      else {
        bits.write(cur, codeSize)
        if (next < 4096) {
          dict.put(key(cur, k), next)
          next += 1
          if (next == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
        } else { // table full: reset both sides
          bits.write(clear, codeSize)
          dict.clear()
          codeSize = minCode + 1
          next = eoi + 1
        }
        cur = k
      }
      i += 1
    }
    bits.write(cur, codeSize)
    bits.write(eoi, codeSize)
    bits.finish()
  }

  /** GIF-LZW decompress to exactly `expect` indices; null on any
    * malformed stream (bad code, truncation, wrong length). Handles
    * code-width growth, KwKwK (code == next), table-full streams that
    * defer their CLEAR, and mid-stream resets. */
  private def lzwDecode(data: Array[Byte], minCode: Int,
                        expect: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new Array[Byte](expect)
    var outPos = 0
    var codeSize = minCode + 1
    var next = eoi + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val scratch = new Array[Byte](4096)
    var prev = -1
    val bits = new BitReader(data)
    var code = bits.read(codeSize)
    var done = false
    while (!done && code >= 0) {
      if (code == clear) {
        codeSize = minCode + 1; next = eoi + 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else {
        // expand `code` (or KwKwK) into scratch, tail-first
        var expandCode = code
        var firstOfPrev = 0.toByte
        if (prev >= 0) {
          // first byte of prev's expansion, needed for KwKwK + dict add
          var p = prev
          while (p >= clear) p = prefix(p)
          firstOfPrev = p.toByte
        }
        var sPos = scratch.length
        if (code == next && prev >= 0) {
          sPos -= 1; scratch(sPos) = firstOfPrev
          expandCode = prev
        } else if (code >= next) return null // desynced stream
        var c = expandCode
        while (c >= clear) {
          if (sPos <= 0) return null
          sPos -= 1; scratch(sPos) = suffix(c)
          c = prefix(c)
        }
        if (sPos <= 0) return null
        sPos -= 1; scratch(sPos) = c.toByte
        val len = scratch.length - sPos
        if (outPos + len > expect) return null
        System.arraycopy(scratch, sPos, out, outPos, len)
        outPos += len
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev
          suffix(next) = scratch(sPos) // first byte of this expansion
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
      if (!done) code = bits.read(codeSize)
    }
    if (!done || outPos != expect) return null
    out
  }

  /** LSB-first bit packing (the GIF convention). */
  private final class BitWriter {
    private val out = new ByteArrayOutputStream()
    private var acc = 0
    private var nBits = 0
    def write(code: Int, size: Int): Unit = {
      acc |= code << nBits
      nBits += size
      while (nBits >= 8) {
        out.write(acc & 0xff); acc >>>= 8; nBits -= 8
      }
    }
    def finish(): Array[Byte] = {
      if (nBits > 0) out.write(acc & 0xff)
      out.toByteArray
    }
  }

  private final class BitReader(data: Array[Byte]) {
    private var acc = 0L
    private var nBits = 0
    private var pos = 0
    /** -1 when the stream is exhausted mid-code. */
    def read(size: Int): Int = {
      while (nBits < size) {
        if (pos >= data.length) return -1
        acc |= (data(pos) & 0xffL) << nBits
        pos += 1; nBits += 8
      }
      val v = (acc & ((1L << size) - 1)).toInt
      acc >>>= size; nBits -= size
      v
    }
  }

  private def writeSubBlocks(out: ByteArrayOutputStream,
                             data: Array[Byte]): Unit = {
    var i = 0
    while (i < data.length) {
      val n = math.min(255, data.length - i)
      out.write(n)
      out.write(data, i, n)
      i += n
    }
    out.write(0) // terminator
  }
}
