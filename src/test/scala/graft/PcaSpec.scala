package graft

import org.apache.spark.sql.functions._
import graft.operators.Pca

class PcaSpec extends SparkSuite {
  import spark.implicits._

  // seeded 6-dim corpus with two planted directions: most variance
  // along u1, some along u2, tiny isotropic noise
  private lazy val (u1, u2, corpus) = {
    val rng = new scala.util.Random(11L)
    val a = Array(1.0, 2.0, 0.0, -1.0, 0.5, 0.0)
    val b = Array(0.0, -0.5, 1.0, 0.0, 1.0, -1.0)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val (ua, ub0) = (unit(a), unit(b))
    // orthogonalize b against a
    val d = ua.zip(ub0).map { case (x, y) => x * y }.sum
    val ub = unit(ub0.zip(ua).map { case (y, x) => y - d * x })
    val rows = (0 until 300).map { i =>
      val (s, t) = (rng.nextGaussian() * 5, rng.nextGaussian() * 2)
      (i.toLong, (0 until 6).map(j =>
        (3.0 + s * ua(j) + t * ub(j) +
          rng.nextGaussian() * 0.01).toFloat))
    }
    (ua, ub, rows.toDF("vec_id", "embedding"))
  }

  private def dotAbs(a: Seq[Double], b: Seq[Double]): Double =
    math.abs(a.zip(b).map { case (x, y) => x * y }.sum)

  test("jacobiEigen solves a hand-checkable symmetric matrix") {
    // eigenvalues of [[2,1],[1,2]] are 3 and 1
    val (evals, evecs) = Pca.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(evals.sorted.zip(Seq(1.0, 3.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-12 })
    // eigenvector columns are orthonormal
    val dots = for (i <- 0 to 1; j <- 0 to 1)
      yield (i, j, (0 to 1).map(r => evecs(r)(i) * evecs(r)(j)).sum)
    assert(dots.forall { case (i, j, d) =>
      math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-12 })
  }

  // the exact fit q119 runs; the spec corpus' elements sit near 3±10,
  // inside a 32.0 envelope
  private def fit(k: Int): Pca.ExactPcaComponents =
    Pca.fitExactMicro(corpus, dim = 6, k = k, maxAbs = 32.0)

  /** Unit-length axes from the micro-int weights. */
  private def axes(c: Pca.ExactPcaComponents): Seq[Seq[Double]] =
    c.w6.toSeq.map(_.toSeq.map(_ / 1e6))

  /** projectExact's (vec_id, component, value) rows as one
    * coordinate vector per vec_id, in vec_id order. */
  private def projected(c: Pca.ExactPcaComponents): Seq[Seq[Double]] =
    Pca.projectExact(corpus, c.toTable(spark), dim = 6)
      .orderBy("vec_id", "component")
      .select("vec_id", "value").as[(Long, Double)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))

  private def exactCov: Array[Array[Double]] = {
    val cov = Array.ofDim[Double](6, 6)
    Pca.covarianceMatrix(corpus, 6, maxAbs = 32.0).collect().foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt,
        r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
    }
    cov
  }

  test("fit recovers the planted directions in order") {
    val c = fit(3)
    val v = axes(c)
    assert(dotAbs(v(0), u1.toSeq) > 0.999)
    assert(dotAbs(v(1), u2.toSeq) > 0.999)
    // projected variance descends by component, and the shares of the
    // total variance match the planting
    val proj = projected(c)
    val variance = (0 until 3).map { i =>
      val xs = proj.map(_(i))
      val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / xs.length
    }
    assert(variance.sliding(2).forall(p => p(0) >= p(1)), variance)
    val total = exactCov.indices.map(i => exactCov(i)(i)).sum
    assert(variance(0) / total > 0.7 && variance(2) / total < 0.01,
      s"$variance of $total")
  }

  test("components satisfy the eigen property against the exact " +
    "relational covariance") {
    val cov = exactCov
    axes(fit(2)).foreach { v =>
      val cv = cov.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      val lambda = cv.zip(v).map { case (a, b) => a * b }.sum
      val resid = math.sqrt(cv.zip(v).map { case (a, b) =>
        val d = a - lambda * b; d * d }.sum)
      // 6dp covariance and micro-int weights -> residual bounded by
      // rounding noise
      assert(resid < 1e-4, s"residual $resid for eigenvalue $lambda")
    }
  }

  test("fit is deterministic (canonical sign) and components are " +
    "orthonormal") {
    val c = fit(3)
    assert(c.w6.zip(fit(3).w6).forall { case (a, b) => a.sameElements(b) })
    val v = axes(c)
    for (i <- 0 until 3; j <- i until 3) {
      val d = v(i).zip(v(j)).map { case (x, y) => x * y }.sum
      // micro-int weights: orthonormal up to their quantization
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-5, s"($i,$j) $d")
    }
    // the largest-|loading| coordinate is positive
    v.foreach(a => assert(a.maxBy(math.abs) > 0, a))
  }

  test("full-rank projection reconstructs the input") {
    val c = fit(6)
    val v = axes(c)
    val p = projected(c).head
    val x = corpus.orderBy("vec_id").select("embedding")
      .as[Seq[Float]].head().map(_.toDouble)
    val rebuilt = (0 until 6).map(j => c.mu6(j) / 1e6 +
      v.indices.map(i => p(i) * v(i)(j)).sum)
    // micro quantization of inputs, means and weights bounds the
    // drift at ~|x|·d·1e-6
    x.zip(rebuilt).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-3, s"$a vs $b") }
  }

  test("fitExactMicro is bit-deterministic and projectExact tracks " +
    "the float projection") {
    val c1 = fit(2)
    val c2 = fit(2)
    assert(c1.mu6.sameElements(c2.mu6))
    c1.w6.zip(c2.w6).foreach { case (a, b) => assert(a.sameElements(b)) }
    // exact projection ≈ the same projection in doubles on the driver:
    // micro quantization of inputs, mean and weights bounds the drift
    // at ~|x|·d·1e-6
    val xs = corpus.orderBy("vec_id").select("embedding")
      .as[Seq[Float]].collect().map(_.map(_.toDouble))
    val mean = (0 until 6).map(j => xs.map(_(j)).sum / xs.length)
    val fl = xs.toSeq.map(x => axes(c1).map(w =>
      x.indices.map(j => (x(j) - mean(j)) * w(j)).sum))
    val exact = projected(c1)
    assert(exact.length == fl.length)
    exact.flatten.zip(fl.flatten).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-3, s"$a vs $b") }
  }

  test("covarianceMatrix rejects elements outside the exact-arithmetic " +
    "envelope LOUDLY instead of overflowing x6*y6 silently") {
    // un-normalized caller: elements ~3e3 would drive x6*y6 toward
    // Long.MaxValue — the r08-advice scenario the guard exists for
    val big = Seq((1L, Seq(3000.0f, 0.1f)), (2L, Seq(0.2f, -0.3f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Pca.covarianceMatrix(big, 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        String.valueOf(x.getMessage) +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("overflows the exact hi/lo")),
      s"unexpected error: $e")
    // the spec corpus (elements ~3±10) passes under an explicit
    // envelope; the default envelope admits any [-1,1] embedding
    assert(Pca.covarianceMatrix(corpus, 6, maxAbs = 32.0)
      .collect().length == 21)
    // bound is inclusive-ish at the micro grid: 1.048576 passes the
    // default, the next micro step up fails
    val edge = Seq((1L, Seq(1.048576f, 0.0f))).toDF("vec_id", "embedding")
    assert(Pca.covarianceMatrix(edge, 2).collect().length == 3)
  }

  test("covarianceMatrix emits the full upper triangle with exact " +
    "diagonal variance") {
    val rows = Pca.covarianceMatrix(corpus, 6, maxAbs = 32.0).collect()
    assert(rows.length == 21) // 6*7/2
    // spot-check one diagonal against a driver-side computation
    val xs = corpus.select(col("embedding")(0).cast("double"))
      .as[Double].collect()
    val mu = xs.sum / xs.length
    val varExp = xs.map(x => (x - mu) * (x - mu)).sum / xs.length
    val got = rows.find(r => r.getLong(0) == 0 && r.getLong(1) == 0)
      .get.getDouble(2)
    assert(math.abs(got - varExp) < 1e-5)
  }
}
