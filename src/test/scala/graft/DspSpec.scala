package graft

import graft.functions.Dsp
import org.scalatest.funsuite.AnyFunSuite

class DspSpec extends AnyFunSuite {

  test("fft matches the analytic DFT of a bin-exact cosine") {
    // cos(2π·8·i/64): all energy in bins 8 and 64-8
    val n = 64
    val re = Array.tabulate(n)(i => math.cos(2 * math.Pi * 8 * i / n))
    val im = new Array[Double](n)
    Dsp.fft(re, im)
    for (b <- 0 until n) {
      val mag = math.sqrt(re(b) * re(b) + im(b) * im(b))
      if (b == 8 || b == n - 8)
        assert(math.abs(mag - n / 2.0) < 1e-9, s"bin $b mag $mag")
      else assert(mag < 1e-9, s"bin $b should be empty, mag $mag")
    }
  }

  test("fft of an impulse is flat; linearity round-trip via Parseval") {
    val n = 32
    val re = new Array[Double](n); re(0) = 1.0
    val im = new Array[Double](n)
    Dsp.fft(re, im)
    assert(re.forall(x => math.abs(x - 1.0) < 1e-12))
    assert(im.forall(x => math.abs(x) < 1e-12))
    // Parseval on a ramp: sum|x|^2 = (1/N) sum|X|^2
    val r2 = Array.tabulate(n)(i => (i % 7).toDouble)
    val i2 = new Array[Double](n)
    val t = r2.map(x => x * x).sum
    Dsp.fft(r2, i2)
    val f = r2.indices.map(b => r2(b) * r2(b) + i2(b) * i2(b)).sum / n
    assert(math.abs(t - f) < 1e-8)
  }

  test("mean power spectrum: a bin-exact sine's power sits in its own " +
    "bin; noise spreads its power across the band") {
    val sr = 16000; val fl = 256
    // 4000 Hz = bin 64 exactly (62.5 Hz/bin), integer cycles per frame
    val sine = Array.tabulate(fl * 4)(i =>
      math.round(10000 * math.sin(2 * math.Pi * 4000 * i / sr)).toInt)
    val ps = Dsp.meanPowerSpectrum(sine, fl)
    assert(ps.length == fl / 2 + 1) // DC..Nyquist
    assert(ps.indices.maxBy(ps(_)) == 64)
    // the rounded samples leak a little power; the rest of the band
    // together holds under 1% of the tone bin's
    val rest = ps.indices.filter(_ != 64).map(ps(_)).sum
    assert(rest < 0.01 * ps(64), s"off-bin power $rest vs ${ps(64)}")
    // seeded uniform noise: no bin holds more than a tenth of the
    // AC power
    val rng = new scala.util.Random(3L)
    val noise = Array.fill(fl * 4)(rng.nextInt(20001) - 10000)
    val pn = Dsp.meanPowerSpectrum(noise, fl).drop(1)
    assert(pn.max < 0.1 * pn.sum, s"noise peak ${pn.max} of ${pn.sum}")
  }

  test("clip shorter than one frame yields no features") {
    assert(Dsp.meanPowerSpectrum(Array(1, 2, 3), 256).isEmpty)
    // one whole frame is enough; the partial tail is dropped
    assert(Dsp.meanPowerSpectrum(Array.fill(256 + 3)(1), 256).length ==
      129)
  }
}
