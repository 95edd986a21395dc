package graft

import org.apache.spark.sql.functions._
import graft.operators.Sampling

class SamplingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.01")

  test("hash samples are stable across runs and repartitionings") {
    val a = Sampling.sampleByHash(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.sampleByHash(docs.repartition(7), "doc_id", 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("hash samples are NESTED: a smaller fraction is a subset of a " +
    "larger one, and sizes track the fractions") {
    val small = Sampling.sampleByHash(docs, "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    val large = Sampling.sampleByHash(docs, "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(large))
    val n = docs.count().toDouble
    assert(math.abs(small.size / n - 0.2) < 0.08)
    assert(math.abs(large.size / n - 0.6) < 0.08)
  }

  test("capPerGroup keeps at most k per group, deterministically, and " +
    "smaller caps nest inside larger ones") {
    val base = docs.select("doc_id", "source")
    val cap10 = Sampling.capPerGroup(base, "source", "doc_id", 10)
      .select("doc_id").as[Long].collect().toSet
    val cap10b = Sampling.capPerGroup(base.repartition(5), "source",
        "doc_id", 10)
      .select("doc_id").as[Long].collect().toSet
    val cap50 = Sampling.capPerGroup(base, "source", "doc_id", 50)
      .select("doc_id").as[Long].collect().toSet
    assert(cap10 == cap10b)
    assert(cap10.subsetOf(cap50))
    val perGroup = Sampling.capPerGroup(base, "source", "doc_id", 10)
      .groupBy("source").count().as[(String, Long)].collect()
    assert(perGroup.nonEmpty && perGroup.forall(_._2 <= 10))
  }

  test("mixByWeights keeps per-group fractions near target and is " +
    "monotone: raising one weight only ADDS docs") {
    val base = docs.select("doc_id", "lang")
    val mixA = Sampling.mixByWeights(base, "lang", "doc_id",
      Map("en" -> 0.5, "de" -> 0.2), defaultWeight = 0.1)
    val mixB = Sampling.mixByWeights(base, "lang", "doc_id",
      Map("en" -> 0.9, "de" -> 0.2), defaultWeight = 0.1)
    val a = mixA.select("doc_id").as[Long].collect().toSet
    val b = mixB.select("doc_id").as[Long].collect().toSet
    assert(a.subsetOf(b)) // only en grew; everything kept stays kept
    val kept = mixA.groupBy("lang").count().as[(String, Long)]
      .collect().toMap
    val total = base.groupBy("lang").count().as[(String, Long)]
      .collect().toMap
    assert(math.abs(kept("en").toDouble / total("en") - 0.5) < 0.15)
    assert(math.abs(kept("de").toDouble / total("de") - 0.2) < 0.15)
  }

  test("temperatureMix: α=1 is the plain uniform sample; α<1 shifts " +
    "share toward tail groups; nested in sampleFraction") {
    val base = docs.select("doc_id", "lang")
    // α=1 → keep-fraction = sampleFraction for every group
    val alpha1 = Sampling.temperatureMix(base, "lang", "doc_id",
      alpha = 1.0, sampleFraction = 0.4)
    val uniform = Sampling.sampleByHash(base, "doc_id", 0.4)
    assert(alpha1.select("doc_id").as[Long].collect().sorted.toSeq ==
      uniform.select("doc_id").as[Long].collect().sorted.toSeq)
    // α=0.5 upsamples the tail: smallest group's kept SHARE of the mix
    // must exceed its natural share (relative to the α=1 mix)
    val byLang = base.groupBy("lang").count().as[(String, Long)]
      .collect().toMap
    val tail = byLang.minBy(_._2)._1
    val t05 = Sampling.temperatureMix(base, "lang", "doc_id", 0.5, 0.4)
    def share(df: org.apache.spark.sql.DataFrame, g: String): Double = {
      val m = df.groupBy("lang").count().as[(String, Long)]
        .collect().toMap
      m.getOrElse(g, 0L).toDouble / m.values.sum
    }
    assert(share(t05, tail) > share(alpha1, tail))
    // nested: growing the budget only adds rows
    val small = Sampling.temperatureMix(base, "lang", "doc_id", 0.5, 0.2)
      .select("doc_id").as[Long].collect().toSet
    val large = Sampling.temperatureMix(base, "lang", "doc_id", 0.5, 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(large))
  }

  test("temperatureMix samples null-group rows as their own group " +
    "instead of silently dropping them") {
    val withNulls = Seq((1L, "en"), (2L, "en"), (3L, null), (4L, null),
      (5L, null), (6L, null)).toDF("doc_id", "lang")
    // α=1, f=1 keeps EVERYTHING — including the null-lang rows an
    // equi-join formulation would lose
    val all = Sampling.temperatureMix(withNulls, "lang", "doc_id",
      alpha = 1.0, sampleFraction = 1.0)
    assert(all.count() == 6)
    val nullKept = all.filter(col("lang").isNull).count()
    assert(nullKept == 4)
  }

  test("upsampleByWeights emits floor(w) epochs plus a deterministic " +
    "hash-fraction extra; expected volume ≈ w× the group") {
    val base = docs.select("doc_id", "lang")
    val up = Sampling.upsampleByWeights(base, "lang", "doc_id",
      Map("de" -> 2.5, "en" -> 0.75), defaultWeight = 1.0).cache()
    val perDoc = up.groupBy("doc_id", "lang").count()
      .as[(Long, String, Long)].collect()
    // every de doc appears 2 or 3 times; en 0 or 1 (0s absent); rest 1
    perDoc.foreach { case (_, lang, n) =>
      lang match {
        case "de" => assert(n == 2 || n == 3)
        case "en" => assert(n == 1)
        case _    => assert(n == 1)
      }
    }
    val deTotal = base.filter(col("lang") === "de").count().toDouble
    val deKept = up.filter(col("lang") === "de").count().toDouble
    assert(math.abs(deKept / deTotal - 2.5) < 0.2)
    val enTotal = base.filter(col("lang") === "en").count().toDouble
    val enKept = up.filter(col("lang") === "en").count().toDouble
    assert(math.abs(enKept / enTotal - 0.75) < 0.1)
    // epochs are a dense 1..n sequence per doc
    val maxEp = up.groupBy("doc_id").agg(
      max("epoch").as("m"), count(lit(1)).as("n"))
      .filter(col("m") =!= col("n")).count()
    assert(maxEp == 0)
    up.unpersist()
  }

  test("assignSplit partitions every row into exactly one of " +
    "train/val/test with roughly the requested proportions") {
    val split = docs.select(col("doc_id"),
      Sampling.assignSplit(col("doc_id")).as("split"))
    val counts = split.groupBy("split").count().as[(String, Long)]
      .collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == docs.count())
    val n = docs.count().toDouble
    assert(math.abs(counts("train") / n - 0.8) < 0.08)
  }

  test("stratifiedSplit lands EXACT ceil proportions in every class " +
    "and is deterministic") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val out = Sampling.stratifiedSplit(emb, "label", "vec_id", 0.8)
      .cache()
    val perClass = out.groupBy("label", "split").count()
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).map { case (l, rows) =>
        (l, rows.map(r => r._2 -> r._3).toMap) }
    val totals = emb.groupBy("label").count()
      .as[(Long, Long)].collect().toMap
    perClass.foreach { case (l, m) =>
      val want = math.ceil(totals(l) * 0.8).toLong
      assert(m.getOrElse("train", 0L) == want,
        s"label $l: train ${m.get("train")} want $want of ${totals(l)}")
      assert(m.getOrElse("train", 0L) + m.getOrElse("test", 0L)
        == totals(l))
    }
    // deterministic: same assignment on a second run
    val a = out.select("vec_id", "split")
      .as[(Long, String)].collect().toMap
    val b = Sampling.stratifiedSplit(emb, "label", "vec_id", 0.8)
      .select("vec_id", "split").as[(Long, String)].collect().toMap
    assert(a == b)
  }

  test("weightedSample: k rows, deterministic, weight-proportional " +
    "inclusion, zero-weight rows excluded") {
    // 200 light rows (w=1) vs 50 heavy rows (w=100): heavy rows carry
    // ~96% of total weight and must dominate a k=50 sample
    val rows = (0L until 200L).map(i => (i, 1L)) ++
      (200L until 250L).map(i => (i, 100L)) :+ (999L, 0L)
    val df = rows.toDF("doc_id", "w")
    val got = Sampling.weightedSample(df, k = 50, weightCol = "w",
      keyCol = "doc_id").select("doc_id").as[Long].collect().toSet
    assert(got.size == 50)
    assert(!got.contains(999L)) // w=0 never sampled
    val heavy = got.count(_ >= 200L)
    assert(heavy >= 35, s"heavy rows in sample: $heavy of 50")
    // deterministic replay
    val again = Sampling.weightedSample(df, 50, "w", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(got == again)
    // different seed -> (almost surely) different light-row picks
    val other = Sampling.weightedSample(df, 50, "w", "doc_id",
      seed = 7L).select("doc_id").as[Long].collect().toSet
    assert(got != other)
  }

  test("shardManifest: every doc lands once per epoch, tokens are " +
    "conserved, and epochs permute the shard assignment") {
    val docs = (0L until 40L)
      .map(i => (i, ("w " * (i % 5 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val m = Sampling.shardManifest(docs, epochs = 2, shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val totalTok = (0L until 40L).map(_ % 5 + 1).sum
    for (e <- 0L to 1L) {
      val rows = m.filter(_._1._1 == e).values
      assert(m.keys.filter(_._1 == e).forall(k => k._2 >= 0 && k._2 < 4))
      assert(rows.map(_._1).sum == 40L, s"epoch $e doc conservation")
      assert(rows.map(_._2).sum == totalTok, s"epoch $e token sum")
    }
    // the two epochs give different per-shard counts (fresh shuffle)
    assert((0L to 3L).exists(sh =>
      m.get((0L, sh)).map(_._1) != m.get((1L, sh)).map(_._1)))
  }
}
