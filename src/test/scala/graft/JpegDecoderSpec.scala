package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.IIOMetadataNode
import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaFeatures, MediaRow}

/** JPEG through [[Multimodal.PixelDecoder]], which reads it with the
  * JDK's `jpeg` ImageReader: dims are exact; a grayscale image's luma
  * is the sum of its raw decoded samples (not of `getRGB`, which
  * converts linear gray to sRGB); a color image's luma is the integer
  * mean of R, G, B per pixel, near the source's on lossy output; and no
  * payload throws. */
class JpegDecoderSpec extends SparkSuite {
  import spark.implicits._

  /** A JDK-encoded JPEG; `restartInterval` > 0 adds a DRI marker, so the
    * scan carries RSTn markers every that many MCUs. */
  private def writeJpeg(bi: BufferedImage, quality: Float = 0.95f,
                        restartInterval: Int = 0): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val ios = ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val meta = if (restartInterval == 0) null else {
      val m = writer.getDefaultImageMetadata(new ImageTypeSpecifier(bi), p)
      val fmt = "javax_imageio_jpeg_image_1.0"
      val root = m.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val seq = root.getElementsByTagName("markerSequence").item(0)
      val dri = new IIOMetadataNode("dri")
      dri.setAttribute("interval", restartInterval.toString)
      seq.insertBefore(dri, seq.getFirstChild)
      m.setFromTree(fmt, root)
      m
    }
    writer.write(null, new IIOImage(bi, null, meta), p)
    writer.dispose(); ios.close()
    out.toByteArray
  }

  private def gray(w: Int, h: Int)(g: (Int, Int) => Int): BufferedImage = {
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    // write RAW samples — setRGB would gamma-convert into the raster
    for (y <- 0 until h; x <- 0 until w)
      bi.getRaster.setSample(x, y, 0, g(x, y))
    bi
  }

  private def color(w: Int, h: Int)(rgb: (Int, Int) => (Int, Int, Int))
      : BufferedImage = {
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgb(x, y)
      bi.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    bi
  }

  /** Source luma: per-pixel integer mean of R, G, B (gray: the sample). */
  private def sourceLuma(bi: BufferedImage): Long =
    (for (y <- 0 until bi.getHeight; x <- 0 until bi.getWidth) yield {
      if (bi.getRaster.getNumBands == 1) bi.getRaster.getSample(x, y, 0)
      else {
        val p = bi.getRGB(x, y)
        (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
      }
    }).map(_.toLong).sum

  /** Sum of the raw samples the JDK decodes from a one-band JPEG. */
  private def rawSampleSum(bytes: Array[Byte]): Long = {
    val r = ImageIO.read(new ByteArrayInputStream(bytes)).getRaster
    assert(r.getNumBands == 1)
    r.getSamples(0, 0, r.getWidth, r.getHeight, 0, null: Array[Int])
      .map(_.toLong).sum
  }

  private def decode(payloads: Array[Byte]*): Seq[MediaFeatures] =
    Multimodal.extractFeatures(
        payloads.zipWithIndex.map { case (b, i) =>
          MediaRow(i.toLong, "image", b) }.toDF(),
        Multimodal.PixelDecoder)
      .collect().sortBy(_.doc_id).toSeq

  test("grayscale JPEG: luma is the raw sample sum, dims exact") {
    for (seed <- Seq(1, 7, 42)) {
      val w = 40 + seed
      val h = 24 + seed
      val bi = gray(w, h)((x, y) =>
        (seed * 31 + 5 * x + 11 * y + (x * y) / 7) % 256)
      val bytes = writeJpeg(bi)
      val f = decode(bytes).head
      assert(f.valid && f.width == w && f.height == h, s"seed $seed $f")
      assert(f.checksum == rawSampleSum(bytes), s"seed $seed")
      // lossy, but within 2 per pixel of the source on average
      assert(math.abs(f.checksum - sourceLuma(bi)) <= 2L * w * h,
        s"seed $seed luma ${f.checksum} source ${sourceLuma(bi)}")
    }
  }

  test("solid-color JPEG: luma is the solid's mean, dims exact") {
    for ((r, g, b) <- Seq((200, 40, 90), (12, 230, 128), (80, 80, 80))) {
      val bi = color(33, 21)((_, _) => (r, g, b))
      val f = decode(writeJpeg(bi)).head
      assert(f.valid && f.width == 33 && f.height == 21)
      assert(math.abs(f.checksum - sourceLuma(bi)) <= 2L * 33 * 21,
        s"rgb($r,$g,$b) luma ${f.checksum} source ${sourceLuma(bi)}")
    }
  }

  test("color gradient JPEG: mean luma near the source, dims exact") {
    val (w, h) = (64, 48)
    val bi = color(w, h)((x, y) => (40 + x * 2, 60 + y * 2, 128))
    val f = decode(writeJpeg(bi)).head
    assert(f.valid && f.width == w && f.height == h)
    assert(math.abs(f.checksum - sourceLuma(bi)) <= 2L * w * h,
      s"luma ${f.checksum} source ${sourceLuma(bi)}")
  }

  test("restart markers (DRI) decode correctly") {
    val bi = gray(48, 32)((x, y) => (x * 8 + y * 3) % 256)
    val bytes = writeJpeg(bi, 0.9f, restartInterval = 1)
    val markers = bytes.sliding(2).collect {
      case Array(a, m) if (a & 0xff) == 0xff => m & 0xff }.toSet
    assert(markers.contains(0xdd), "no DRI marker")
    assert(markers.exists(m => m >= 0xd0 && m <= 0xd7), "no RSTn marker")
    val f = decode(bytes).head
    assert(f.valid && f.width == 48 && f.height == 32)
    assert(f.checksum == rawSampleSum(bytes))
    assert(math.abs(f.checksum - sourceLuma(bi)) <= 2L * 48 * 32)
  }

  test("PixelDecoder reads JPEG only through the JDK jpeg reader") {
    val bi = gray(24, 16)((x, y) => (x * 9 + y * 5) % 256)
    val jpeg = writeJpeg(bi)
    // a GIF the JDK's generic ImageIO.read decodes stays out of scope
    val gifOut = new ByteArrayOutputStream()
    assert(ImageIO.write(bi, "gif", gifOut))
    val gif = gifOut.toByteArray
    assert(ImageIO.read(new ByteArrayInputStream(gif)) != null)
    val Seq(j, g) = decode(jpeg, gif)
    assert(j.valid && j.width == 24 && j.height == 16 && j.checksum > 0L)
    assert(!g.valid && g.width == 0 && g.checksum == 0L)
  }

  test("empty, garbage and truncated payloads never throw") {
    val full = writeJpeg(gray(16, 16)((x, y) => (x * y) % 256))
    val soiThenJunk = Array(0xff, 0xd8, 0x00, 0x01, 0x02).map(_.toByte)
    val got = decode(Array.emptyByteArray, "not a jpeg at all".getBytes,
      soiThenJunk, full.take(full.length / 2), null)
    assert(got.size == 5)
    assert(!got(0).valid && !got(1).valid && !got(2).valid && !got(4).valid)
    // the truncated scan decodes or quarantines, but never throws; when
    // it decodes, the dims come from the intact header
    assert(!got(3).valid || (got(3).width == 16 && got(3).height == 16))
  }
}
