package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Principal component analysis over an embedding column — the
  * dimensionality-reduction stage of a training-data pipeline
  * (compact features for quality classifiers, the deterministic
  * cousin of the JL projection in [[Similarity.randomProject]]: JL is
  * data-oblivious, PCA is data-optimal for a fixed corpus).
  *
  * Reference scope: the reference engine ships no matrix analytics —
  * north-star training-data surface (SURVEY §6), like PQ/IVF/JL.
  *
  * Scale shape: [[fitExactMicro]] runs two bounded aggregations over
  * the corpus — the micro-int mean and the [[covarianceMatrix]]
  * fan-out — and collects d and d(d+1)/2 rows; the d×d
  * eigen-decomposition runs on the driver (cyclic Jacobi, microseconds
  * at d=64 — NOT a corpus-scale operation). [[projectExact]] joins the
  * dim-bounded component table by broadcast.
  *
  * Determinism: every step up to a final division is exact integer
  * arithmetic over 6dp-quantized values, so two runs (any
  * partitioning) produce bit-identical components and projections, and
  * DuckDB replays both (q118 covariance, q119 projection). Component
  * sign is canonicalized (largest-|loading| coordinate positive, first
  * index on ties).
  */
object Pca {

  /** Flip so the largest-|entry| coordinate is positive (first index
    * wins ties) — removes the eigenvector sign ambiguity. */
  private def canonicalSign(v: Array[Double]): Array[Double] = {
    var best = 0
    var i = 1
    while (i < v.length) {
      if (math.abs(v(i)) > math.abs(v(best))) best = i
      i += 1
    }
    if (v(best) < 0) v.map(-_) else v
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix —
    * returns (eigenvalues, V) with eigenvectors in V's COLUMNS.
    * Textbook algorithm (Golub & Van Loan §8.5): sweep all (p,q)
    * pairs, rotate away off-diagonal mass until convergence.
    * Deterministic: fixed sweep order, no pivoting on data. */
  def jacobiEigen(a0: Array[Array[Double]], maxSweeps: Int = 64,
                  tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (sweep < maxSweeps && off > tol) {
      for (p <- 0 until d - 1; q <- p + 1 until d
           if math.abs(a(p)(q)) > tol / (d * d)) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val sgn = if (theta >= 0) 1.0 else -1.0
        val tt = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(tt * tt + 1.0)
        val s = tt * c
        var i = 0
        while (i < d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
          i += 1
        }
        i = 0
        while (i < d) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
          i += 1
        }
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    math.sqrt(s)
  }

  /** 6dp micro-int lift: `round(x,6)·10⁶` as an exact LONG — the
    * shared quantization of the exact-arithmetic surface (q118/q119
    * covariance + projection, mirroring EmbeddingStats' dec6). */
  private[graft] def micro6(c: Column): Column =
    (round(c, 6).cast("decimal(28,6)") * 1000000).cast("long")

  /** The exact-arithmetic envelope of [[covarianceMatrix]]'s hi/lo
    * LONG split (default `maxAbs`): per-row products stay ≤ 2⁴⁰ (so
    * the shifted hi half is ≤ 2²⁰ and plain LONG sums hold to ~2⁴³
    * rows per group) while every micro-lifted element satisfies
    * |x6| ≤ 2²⁰ — i.e. elements in [−1.048576, 1.048576]. Any
    * [-1,1]-normalized embedding qualifies. */
  private[graft] val DefaultMaxAbs: Double = (1L << 20) / 1e6

  /** The covariance matrix as EXACT relational algebra — q118's
    * output and [[fitExactMicro]]'s input: per row, the upper
    * triangle of xxᵀ is generated map-side (d(d+1)/2 structs — no
    * self-join), then one groupBy(i,j) computes the covariance of the
    * 6dp-QUANTIZED values in exact integer arithmetic. Output
    * (i, j, cov), i <= j, cov rounded half-away at 6dp.
    *
    * Exactness (the q128/q87 decimal bridge, applied after the r07
    * driver gate caught `round(avg(x·y) − avg(x)·avg(y), 6)` landing
    * on a 6dp boundary whose double differed by one ulp between
    * Spark's and DuckDB's summation orders): each element is lifted to
    * a micro-int `x6 = round(x,6)·10⁶` (exact LONG), every sum is
    * exact integer arithmetic — order-independent — and the single
    * final division `cov = (n·Σx6y6 − Σx6·Σy6) / (n²·10¹²)` rounds
    * the scaled integer quotient half-away
    * ([[graft.functions.ExactRound]]), so both engines produce
    * bit-identical doubles.
    *
    * Overflow-safe WITHOUT decimal aggregation (a straight
    * DECIMAL(38,0) `sum(x6·y6)` measured 10.5 s vs the old double
    * plan's 3.4 s at the 32× ScaleCheck — decimal partial aggregates
    * fall out of efficient codegen): the product sum is split into
    * floor-shift hi/lo LONG halves (`xy = (xy >> 20)·2²⁰ + (xy &
    * 0xFFFFF)`, exact for negatives under arithmetic shift), each
    * bounded by 2²⁰ per row so plain LONG sums hold to ~2⁴³ rows per
    * (i,j) group — far past any corpus (the linear Σx6 sums at |x6| ≤
    * 10⁶ hold to ~9·10¹² rows the same way). The halves recombine
    * into DECIMAL once per GROUP (2080 rows), where decimal cost is
    * irrelevant.
    *
    * The pair rows are produced by two NESTED `posexplode` generators
    * (row → (i, x) → (i, j, x, y) via a column-arg `slice`), which
    * stay inside whole-stage codegen, behind an explicit round-robin
    * repartition so the d(d+1)/2 fan-out never serializes on a
    * few-partition upstream. The original nested `transform(sequence…)`
    * HOF built the 2080 structs through one interpreted lambda frame
    * per pair per row AND inherited the input's partitioning —
    * measured 554 s at the 32× ScaleCheck (single cached partition).
    * Isolated A/B at 32×/64k rows on identical 32-partition frames:
    * HOF 24.1 s vs this plan 3.45 s (~7× from codegen alone, the rest
    * was the partition collapse). A literal-unrolled 2080-element
    * array was rejected too — the ~8000-node expression tree stalls
    * driver-side planning.
    *
    * `maxAbs` is the element-magnitude envelope the hi/lo LONG
    * split is exact under (r08 advice: the overflow condition is a
    * property of the PUBLIC operator, not just the q118 fixture
    * path). Elements whose |value| exceeds it fail LOUDLY via
    * `raise_error` instead of overflowing `x6·y6` silently (an
    * un-normalized caller at elements ~3·10³ would otherwise produce
    * wrong covariances with no error). Raising `maxAbs` trades group
    * capacity: with B = maxAbs·10⁶ micro-units, the per-row hi half
    * is ≤ B²/2²⁰, so LONG sums stay exact to ~2⁸³/B² rows per (i,j)
    * group (B=2²⁰ → 2⁴³ rows; B=2²⁴ (elements ≤ ~16.8) → 2³⁵ rows)
    * and the linear Σx6 sums to ~2⁶³/B. */
  def covarianceMatrix(df: DataFrame, dim: Int,
                       vecCol: String = "embedding",
                       maxAbs: Double = DefaultMaxAbs): DataFrame = {
    // keep the product itself far from Long overflow regardless of
    // group size: B ≤ 2³⁰ micro-units → x6·y6 ≤ 2⁶⁰
    require(maxAbs > 0 && maxAbs * 1e6 <= (1L << 30),
      s"maxAbs must be in (0, ${(1L << 30) / 1e6}]; got $maxAbs")
    val maxAbsMicro = math.round(maxAbs * 1e6)
    val v = Similarity.asDouble(col(vecCol))
    // guarded micro lift: d branches per row, pre-fan-out — negligible
    // next to the d(d+1)/2 pair expansion it protects
    def micro(c: Column): Column = {
      val m = micro6(c)
      when(abs(m) > maxAbsMicro, raise_error(concat(
        lit(s"covarianceMatrix: |element| > $maxAbs overflows the " +
          "exact hi/lo product split at this envelope — normalize " +
          "or pre-scale the vectors (or raise maxAbs, trading " +
          "rows-per-group capacity); got "), c.cast("string"))))
        .otherwise(m)
    }
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // pre-fan-out explicit parallelism (the SkewTools.selfPairs lesson,
    // round-robin flavor): each input row becomes d(d+1)/2 pair rows,
    // so a few-partition upstream (a cache, a coalesced scan) would
    // serialize the whole expansion
    val xy = col("x6") * col("y6")
    // micro-lift ONCE per element (d per row) BEFORE the d(d+1)/2
    // fan-out: the round+decimal cast per PAIR row cost ~2× the whole
    // aggregation at 32× (the transform lambda is interpreted, but it
    // runs d times per row, not d²/2)
    val agg = df.filter(size(v) === dim)
      .select(transform(v, x => micro(x)).as("v6"))
      .repartition(df.sparkSession.sessionState.conf
        .numShufflePartitions)
      .select(col("v6"), posexplode(col("v6")).as(Seq("i", "x6")))
      .select(col("i"), col("x6"),
        posexplode(slice(col("v6"), col("i") + 1, lit(dim) - col("i")))
          .as(Seq("jr", "y6")))
      .groupBy(col("i").cast("long").as("i"),
        (col("i") + col("jr")).cast("long").as("j"))
      .agg(count(lit(1)).as("n"),
        sum(shiftright(xy, 20)).as("sxy_hi"),
        sum(xy.bitwiseAND(lit(0xFFFFFL))).as("sxy_lo"),
        sum(col("x6")).as("sx"),
        sum(col("y6")).as("sy"))
    val sxy = dec(col("sxy_hi")) * (1L << 20) + col("sxy_lo")
    agg.select(col("i"), col("j"),
      graft.functions.ExactRound.signedRatio(
          col("n") * sxy - dec(col("sx")) * col("sy"),
          dec(col("n")) * col("n") * 1000000, 0)
        .divide(lit(1000000.0)).as("cov"))
  }

  /** Deterministic micro-int PCA components: mean and components are
    * derived from EXACT inputs — the micro-int mean (one exact-decimal
    * aggregation, half-away-rounded to micro units) and the exact 6dp
    * [[covarianceMatrix]] — so two runs (any partitioning) produce
    * bit-identical tables. Fixed-sweep [[jacobiEigen]] on the 6dp
    * covariance runs driver-side (d×d, microseconds); component
    * weights are quantized to micro-ints. q119 persists this table
    * and BOTH engines replay the projection algebra over it in exact
    * integer arithmetic.
    *
    * Scale: two bounded aggregations over the corpus (mean + the
    * covariance fan-out) collecting d and d(d+1)/2 rows — driver state
    * is dim-bounded, never corpus-bounded. */
  final case class ExactPcaComponents(dim: Int, mu6: Array[Long],
                                      w6: Array[Array[Long]]) {
    /** (comp, i, w6, mu6) rows — the staged/broadcast table form. */
    def toTable(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      (for {
        c <- w6.indices
        i <- 0 until dim
      } yield (c.toLong, i.toLong, w6(c)(i), mu6(i)))
        .toDF("comp", "i", "w6", "mu6")
    }
  }

  def fitExactMicro(df: DataFrame, dim: Int, k: Int,
                    vecCol: String = "embedding",
                    maxAbs: Double = DefaultMaxAbs): ExactPcaComponents = {
    require(k >= 1 && k <= dim, s"need 1 <= k <= $dim")
    val v = Similarity.asDouble(col(vecCol))
    // exact micro mean: decimal sums of micro-ints, one half-away
    // integer division per dim (BigInt driver-side — d rows)
    val moments = df.filter(size(v) === dim)
      .select(posexplode(v).as(Seq("i", "x")))
      .select(col("i"), micro6(col("x")).as("x6"))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n"),
        sum(col("x6").cast("decimal(38,0)")).as("s"))
      .collect()
    val mu6 = new Array[Long](dim)
    moments.foreach { r =>
      val i = r.getInt(0)
      val n = BigInt(r.getLong(1))
      val s = BigInt(r.getDecimal(2).toBigInteger)
      val q = (s.abs * 2 + n) / (n * 2)
      mu6(i) = (if (s < 0) -q else q).toLong
    }
    // exact 6dp covariance → driver matrix → fixed-sweep Jacobi
    val covRows = covarianceMatrix(df, dim, vecCol, maxAbs).collect()
    val cov = Array.ofDim[Double](dim, dim)
    covRows.foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
      val c = r.getDouble(2)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(i => (-evals(i), i))
    val w6 = order.take(k).map { i =>
      canonicalSign(evecs.map(_(i))).map(w => math.round(w * 1e6))
    }.toArray
    ExactPcaComponents(dim, mu6, w6)
  }

  /** Exact projection off a (comp, i, w6, mu6) component table:
    * explode the vectors to micro-ints, broadcast-join the dim-bounded
    * table, and compute `Σᵢ (x6ᵢ − mu6ᵢ)·w6ᵢ` as an exact LONG sum —
    * one shuffle (the per-(id, comp) aggregation), values
    * half-away-rounded at 6dp. Output (idCol, component, value) scalar
    * rows — hash-gradeable cross-engine because every step up to the
    * final division is integer arithmetic both engines replay. */
  def projectExact(df: DataFrame, compTable: DataFrame, dim: Int,
                   vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    val v = Similarity.asDouble(col(vecCol))
    df.filter(size(v) === dim)
      .select(col(idCol), posexplode(v).as(Seq("i", "x")))
      .select(col(idCol), col("i").cast("long").as("i"),
        micro6(col("x")).as("x6"))
      .join(broadcast(compTable), Seq("i"))
      .groupBy(col(idCol), col("comp"))
      .agg(sum((col("x6") - col("mu6")) * col("w6")).as("p12"))
      .select(col(idCol), col("comp").as("component"),
        graft.functions.ExactRound.signedRatio(
            col("p12"), lit(1000000L), 0)
          .divide(lit(1000000.0)).as("value"))
  }
}
