package graft.functions

/** Minimal pure-JVM DSP kernel for the audio feature path: an
  * in-place iterative radix-2 Cooley-Tukey FFT and the frame-averaged
  * power spectrum it feeds. No libraries (executor JVMs carry none) —
  * the [[MediaCodecs]] philosophy applied to signal processing.
  *
  * Determinism: fixed iteration order, driver-free, no allocation
  * dependence on partitioning — identical input samples produce
  * bit-identical spectra on every executor. The spectral features
  * over a spectrum are relational arithmetic on its quantized bins
  * (q129); DspSpec pins the kernel on analytically-known signals (a
  * bin-exact sine's power sits in its own bin).
  */
object Dsp {

  /** In-place radix-2 FFT (length must be a power of two). */
  def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require(n == im.length && (n & (n - 1)) == 0,
      s"FFT length must be a power of two, got $n")
    // bit-reversal permutation
    var j = 0
    var i = 0
    while (i < n) {
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      var m = n >> 1
      while (m >= 1 && j >= m) { j -= m; m >>= 1 }
      j += m
      i += 1
    }
    // butterflies
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var base = 0
      while (base < n) {
        var cr = 1.0; var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val a = base + k; val b = a + len / 2
          val tr = re(b) * cr - im(b) * ci
          val ti = re(b) * ci + im(b) * cr
          re(b) = re(a) - tr; im(b) = im(a) - ti
          re(a) += tr; im(a) += ti
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr; cr = ncr
          k += 1
        }
        base += len
      }
      len <<= 1
    }
  }

  /** Mean power spectrum over non-overlapping `frameLen`-sample
    * frames (rectangular window; the trailing partial frame is
    * dropped — a zero-padded tail would bias the average). Returns
    * frameLen/2 + 1 bins (DC..Nyquist). Empty when the clip is
    * shorter than one frame. */
  def meanPowerSpectrum(samples: Array[Int], frameLen: Int): Array[Double] = {
    require(frameLen > 0 && (frameLen & (frameLen - 1)) == 0,
      "frameLen must be a power of two")
    val nFrames = samples.length / frameLen
    val bins = frameLen / 2 + 1
    if (nFrames == 0) return Array.emptyDoubleArray
    val acc = new Array[Double](bins)
    var f = 0
    while (f < nFrames) {
      val re = new Array[Double](frameLen)
      val im = new Array[Double](frameLen)
      var i = 0
      while (i < frameLen) { re(i) = samples(f * frameLen + i); i += 1 }
      fft(re, im)
      var b = 0
      while (b < bins) {
        acc(b) += (re(b) * re(b) + im(b) * im(b)) / frameLen
        b += 1
      }
      f += 1
    }
    var b = 0
    while (b < bins) { acc(b) /= nFrames; b += 1 }
    acc
  }
}
