package graft

import org.apache.spark.sql.functions._
import graft.operators.EmbeddingStats

class EmbeddingStatsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 2.0f), 0),
    (2L, Seq(3.0f, 4.0f, 0.0f), 0),
    (3L, Seq(0.0f, 1.0f, 0.0f), 1),
    (4L, Seq(0.0f, 3.0f, 0.0f), 1),
    (5L, Seq(-1.0f, 0.0f, 0.0f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("groupCentroids: element-wise means per label") {
    val got = EmbeddingStats.groupCentroids(vecs)
      .select("g", "i", "c").as[(Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((0, 0L)) == 2.0 && got((0, 1L)) == 2.0 &&
      got((0, 2L)) == 1.0)
    assert(got((1, 0L)) == 0.0 && got((1, 1L)) == 2.0)
    assert(got((2, 0L)) == -1.0)
    assert(got.size == 9)
  }

  test("centroid aggregate is partial (map-side combine), not a " +
    "row-per-element shuffle") {
    val plan = EmbeddingStats.groupCentroids(vecs)
      .queryExecution.executedPlan.toString
    // two-phase hash aggregate around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("centroidDrift: identical halves read cosine 1 / shift 0; " +
    "orthogonal halves read cosine 0 / shift √2") {
    import spark.implicits._
    def df(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
    val same = EmbeddingStats.centroidDrift(df(Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f),
      2L -> Seq(1f, 0f), 3L -> Seq(0f, 1f))))
      .as[(Long, Long, Double, Double)].head()
    assert(same == ((2L, 2L, 1.0, 0.0)))
    val orth = EmbeddingStats.centroidDrift(df(Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(1f, 0f),
      2L -> Seq(0f, 1f), 3L -> Seq(0f, 1f))))
      .as[(Long, Long, Double, Double)].head()
    // means (1,0) vs (0,1): cos 0, ‖Δ‖ = √2 at 6dp
    assert(orth == ((2L, 2L, 0.0, 1.414214)))
  }

  test("normOutliers: a 100× norm in a tight unit cluster flags; a " +
    "clean 3/4/5 label reads z = ∓1/0 unflagged; singleton labels " +
    "survive with null z") {
    import spark.implicits._
    val rows =
      // label 0: norms 3, 4, 5 → mu 4, sd 1
      Seq((0L, 0, Seq(3f, 0f)), (1L, 0, Seq(0f, 4f)),
        (2L, 0, Seq(0f, 5f)),
      // label 1: 19 unit vectors + one norm-100 outlier
        (100L, 1, Seq(100f, 0f))) ++
        (101L until 120L).map(i => (i, 1, Seq(1f, 0f))) ++
      // label 2: singleton
        Seq((200L, 2, Seq(7f, 0f)))
    val out = EmbeddingStats.normOutliers(
        rows.toDF("vec_id", "label", "embedding"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getBoolean(4)))).toMap
    assert(out(0L) == ((Some(-1.0), false)))
    assert(out(1L) == ((Some(0.0), false)))
    assert(out(2L) == ((Some(1.0), false)))
    // replay the exact integer-moment arithmetic for the outlier z
    val m6 = Seq.fill(19)(1000000L) :+ 100000000L
    val (n, s) = (m6.size.toLong, m6.sum)
    val ssq = m6.map(m => BigInt(m) * m).sum
    val sd = math.sqrt((BigInt(n) * ssq - BigInt(s) * s).toDouble /
      (n * (n - 1))) / 1000000
    val mu = s.toDouble / n / 1000000
    def r4(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(100L) == ((Some(r4((100.0 - mu) / sd)), true)))
    assert(out(101L)._2 == false)
    assert(out(200L) == ((None, false)))
  }
}
