package graft.functions

/** Perceptual image hashing (pHash): pool the grayscale raster to
  * 32×32, take the 2D DCT-II, and fingerprint the 8×8 low-frequency
  * block as 64 above/below-median bits. Visually-identical images —
  * resized, lightly perturbed, re-encoded — land within a small
  * Hamming distance, which turns image near-dup detection into the
  * SAME banded-Hamming join the text side already runs for SimHash
  * ([[graft.operators.Dedup.hammingBandPairs]]).
  *
  * Pure JVM (the [[MediaCodecs]] philosophy), deterministic: integer
  * box pooling (each input pixel maps to exactly one cell via integer
  * scaling), a direct O(8·8·32·32) DCT over doubles with fixed
  * summation order, and a lower-median threshold — bit-identical
  * hashes on every executor. */
object ImageHash {

  /** Box-pool an arbitrary raster to `out`×`out` cell means. Input
    * pixel (x,y) belongs to cell (x·out/w, y·out/h) — integer math,
    * total partition of the raster. Images smaller than `out` in a
    * dimension leave empty cells at mean 0 (deterministic). */
  def pool(pixels: Array[Int], w: Int, h: Int, out: Int = 32)
      : Array[Double] = {
    val sums = new Array[Long](out * out)
    val counts = new Array[Long](out * out)
    var y = 0
    while (y < h) {
      val cy = y * out / h
      var x = 0
      while (x < w) {
        val cx = x * out / w
        val c = cy * out + cx
        sums(c) += pixels(y * w + x)
        counts(c) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(out * out)(c =>
      if (counts(c) == 0) 0.0 else sums(c).toDouble / counts(c))
  }

  /** 64-bit perceptual hash: bit (u·8+v) is set when DCT coefficient
    * (u,v) of the pooled raster exceeds the lower median of the 8×8
    * low-frequency block — computed EXCLUDING the DC coefficient
    * (0,0), as the published pHash recipe does: DC is the global
    * brightness term and typically the largest coefficient, so
    * including it in the median made one bit near-constant and shifted
    * the threshold with overall brightness (weakening robustness to
    * brightness changes). The DC bit itself is derived from the same
    * DC-free median (DC ≫ median for any non-dark image → the bit
    * tracks "image is not near-black", carrying negligible weight). */
  def phash64(pixels: Array[Int], w: Int, h: Int): Long = {
    val n = 32
    val p = pool(pixels, w, h, n)
    // cosine tables: cos(π(2x+1)u/(2n)) for u in 0..7
    val cos = Array.tabulate(8, n)((u, x) =>
      math.cos(math.Pi * (2 * x + 1) * u / (2.0 * n)))
    val coef = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var y = 0
        while (y < n) {
          var x = 0
          var row = 0.0
          while (x < n) { row += p(y * n + x) * cos(v)(x); x += 1 }
          s += row * cos(u)(y)
          y += 1
        }
        coef(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    val sorted = coef.drop(1).sorted
    val median = sorted(31) // lower median of the 63 AC coefficients
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (coef(i) > median) bits |= (1L << i)
      i += 1
    }
    bits
  }
}
