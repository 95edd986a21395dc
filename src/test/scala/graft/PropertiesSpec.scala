package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{Indicators, WindowFns}
import graft.operators.Writes

/** Property-based invariants over ScalaCheck-generated inputs — an
  * upgrade over the reference's fixed fixtures (SURVEY §5). Raw
  * ScalaCheck generators sampled under fixed seeds (the scalatest
  * bridge artifact isn't in the offline cache); each case runs real
  * Spark jobs, so cases are few and small. */
class PropertiesSpec extends SparkSuite {
  import spark.implicits._

  private val seriesGen: Gen[List[(String, Int, Double)]] = for {
    n <- Gen.choose(1, 12)
    keys <- Gen.listOfN(n, Gen.oneOf("a", "b"))
    vals <- Gen.listOfN(n, Gen.choose(1.0, 1000.0))
  } yield keys.zip(1 to n).zip(vals).map { case ((k, t), v) => (k, t, v) }

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("property: rollingMean(w, minPeriods=1) equals the naive trailing" +
    " mean for every row") {
    samples(seriesGen, 5).foreach { rows =>
      val df = rows.toDF("k", "t", "v")
      val w = WindowFns.series(col("k"), col("t"))
      val got = df.withColumn("m", WindowFns.rollingMean(col("v"), 3, 1, w))
        .orderBy("k", "t").select("k", "t", "m")
        .as[(String, Int, Double)].collect()
      val byKey = rows.groupBy(_._1)
      got.foreach { case (k, t, m) =>
        val series = byKey(k).sortBy(_._2)
        val idx = series.indexWhere(_._2 == t)
        val window = series.slice(math.max(0, idx - 2), idx + 1).map(_._3)
        assert(math.abs(m - window.sum / window.size) < 1e-9,
          s"key=$k t=$t")
      }
    }
  }

  test("property: insertIgnore never changes existing rows, stays " +
    "key-unique, and is idempotent for any batch") {
    samples(Gen.zip(seriesGen, seriesGen), 5).foreach { case (a, b) =>
      val existing = a.toDF("k", "t", "v")
        .groupBy("k", "t").agg(min("v").as("v"))
      val incoming = b.toDF("k", "t", "v")
      val once = Writes.insertIgnore(existing, incoming, Seq("k", "t"))
        .cache()
      assert(once.alias("o").join(existing.alias("e"), Seq("k", "t"))
        .filter(col("o.v") =!= col("e.v")).count() == 0)
      val twice = Writes.insertIgnore(once, incoming, Seq("k", "t"))
      assert(twice.orderBy("k", "t", "v").collect().toSeq ==
        once.orderBy("k", "t", "v").collect().toSeq)
      assert(once.groupBy("k", "t").count().filter(col("count") > 1)
        .count() == 0)
      once.unpersist()
    }
  }

  test("property: bloom-pruned insert-ignore equals the plain plan for " +
    "any generated existing/batch pair (end-to-end no-false-negative)") {
    samples(Gen.zip(seriesGen, seriesGen), 5).foreach { case (a, b) =>
      val existing = a.toDF("k", "t", "v")
        .groupBy("k", "t").agg(min("v").as("v"))
      val incoming = b.toDF("k", "t", "v")
      val plain = Writes.insertIgnore(existing, incoming, Seq("k", "t"))
        .orderBy("k", "t", "v").collect().toSeq
      val bloom = Writes.insertIgnoreBloom(existing, incoming,
        Seq("k", "t")).orderBy("k", "t", "v").collect().toSeq
      assert(bloom == plain)
    }
  }

  test("property: upsert always carries exactly the incoming values on " +
    "conflicting keys and stays key-unique") {
    samples(Gen.zip(seriesGen, seriesGen), 5).foreach { case (a, b) =>
      val existing = a.toDF("k", "t", "v")
        .groupBy("k", "t").agg(min("v").as("v"))
      val incoming = b.toDF("k", "t", "v")
        .groupBy("k", "t").agg(min("v").as("v"))
      val out = Writes.upsert(existing, incoming, Seq("k", "t")).cache()
      assert(out.alias("o").join(incoming.alias("i"), Seq("k", "t"))
        .filter(col("o.v") =!= col("i.v")).count() == 0)
      assert(out.groupBy("k", "t").count().filter(col("count") > 1)
        .count() == 0)
      out.unpersist()
    }
  }

  test("property: classifyVolatility matches the closed-form bins for " +
    "any non-negative input") {
    samples(Gen.listOfN(30, Gen.choose(0.0, 12.0)), 5).foreach { vs =>
      val out = vs.toDF("v")
        .select(col("v"), Indicators.classifyVolatility(col("v")).as("c"))
        .as[(Double, String)].collect()
      out.foreach { case (v, c) =>
        val expected =
          if (v <= 2) "low" else if (v <= 5) "medium" else "high"
        assert(c == expected, s"v=$v")
      }
    }
  }

  private val messyTextGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    pieces <- Gen.listOfN(n, Gen.oneOf(
      Gen.oneOf("a", "bb", "ccc", "a", "Ü", "x-y", "a.b"),
      Gen.oneOf(" ", "  ", "\t", "\n", " \t ")))
  } yield pieces.mkString

  test("property: native WordNGrams equals the composed zip_with " +
    "formulation on adversarial whitespace for n in 1..4") {
    import graft.functions.TextFns
    val texts = samples(messyTextGen, 40) ++
      Seq("", " ", "\t", "a", " a ", "\ta b\t")
    val df = texts.map(Tuple1(_)).toDF("text")
    (1 to 4).foreach { n =>
      val diffs = df.select(col("text"),
          TextFns.shingles(col("text"), n).as("native"),
          TextFnsTwins.shinglesHof(col("text"), n).as("hof"))
        .filter(!(col("native") <=> col("hof")))
      val bad = diffs.collect()
      assert(bad.isEmpty,
        s"n=$n first diff: ${bad.headOption.mkString}")
    }
  }

  private val colorRasterGen: Gen[graft.functions.MediaCodecs.PngImage] =
    for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 24)
      ct <- Gen.oneOf(2, 3, 6)
      // palette frames draw from a 16-color pool (PLTE caps at 256
      // distinct); opaque types force alpha 0xff, RGBA is fully random
      pool <- Gen.listOfN(16, Gen.choose(0, 0xffffff))
      px <- Gen.listOfN(w * h,
        if (ct == 3) Gen.oneOf(pool).map(0xff000000 | _)
        else if (ct == 2) Gen.choose(0, 0xffffff).map(0xff000000 | _)
        else Gen.choose(Int.MinValue, Int.MaxValue))
    } yield graft.functions.MediaCodecs.PngImage(w, h, ct, px.toArray)

  test("property: color-PNG encode/decode is identity for random " +
    "rasters across truecolor/palette/RGBA, and the JDK's ImageIO " +
    "agrees on every byte stream we emit") {
    import graft.functions.MediaCodecs
    samples(colorRasterGen, 40).foreach { img =>
      val bytes = MediaCodecs.encodePngArgb(img)
      val back = MediaCodecs.decodePngAny(bytes)
      assert(back.isDefined, s"ct=${img.colorType} ${img.width}x${img.height}")
      assert(back.get.colorType == img.colorType)
      assert(back.get.argb.sameElements(img.argb),
        s"ct=${img.colorType} ${img.width}x${img.height}")
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(bi != null && bi.getWidth == img.width &&
        bi.getHeight == img.height)
      var i = 0
      while (i < img.argb.length) {
        val got = bi.getRGB(i % img.width, i / img.width)
        assert(got == img.argb(i),
          s"ct=${img.colorType} px $i: imageio=${got.toHexString} " +
            s"ours=${img.argb(i).toHexString}")
        i += 1
      }
    }
  }

  test("property: ArgMaxCosine equals a reference argmax over random " +
    "vectors, duplicate centroids (ties), and zero vectors") {
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def refCos(a: Seq[Double], b: Seq[Double]): Option[Double] = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until n).foreach { i =>
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) None else Some(dot / denom)
    }
    val dim = 6
    val vecGen: Gen[Seq[Double]] = Gen.frequency(
      9 -> Gen.listOfN(dim, Gen.oneOf(-2.0, -1.0, -0.5, 0.0, 0.5, 1.0,
        2.0, 3.0)).map(_.toSeq),
      1 -> Gen.const(Seq.fill(dim)(0.0))) // zero vector → null result
    val caseGen: Gen[(Seq[Seq[Double]], Seq[Seq[Double]])] = for {
      k <- Gen.choose(1, 5)
      cs <- Gen.listOfN(k, vecGen)
      dup <- Gen.oneOf(true, false) // duplicated centroid forces a tie
      n <- Gen.choose(1, 8)
      vs <- Gen.listOfN(n, vecGen)
    } yield ((if (dup) cs ++ cs.take(1) else cs).toSeq.map(_.toSeq),
      vs.toSeq.map(_.toSeq))

    samples(caseGen, 12).foreach { case (cs, vs) =>
      val centroids = cs.zipWithIndex
        .map { case (c, i) => (i.toLong, c.toArray) }.toArray
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val got = graft.operators.SemDedup.assign(df, centroids)
        .select("vec_id", "cluster", "centroid_sim")
        .filter(col("cluster").isNotNull)
        .collect().map(r => (r.getLong(0),
          (r.getLong(1), r.getDouble(2)))).toMap
      vs.zipWithIndex.foreach { case (v, i) =>
        // reference: 4dp-rounded max, smallest id tiebreak; zero-norm
        // centroids excluded; zero-norm input → row dropped (null best)
        val sims = centroids.flatMap { case (id, c) =>
          refCos(v, c.toSeq).map(s => (id, round4(s))) }
        if (refCos(v, v).isEmpty || sims.isEmpty) {
          // zero-norm input (or all centroids zero): null best struct,
          // filtered out above
          assert(!got.contains(i.toLong))
        } else {
          val best = sims.maxBy { case (id, s) => (s, -id) }
          assert(got(i.toLong) == ((best._1, best._2)),
            s"vec $i: got ${got(i.toLong)} want $best cs=$cs v=$v")
        }
      }
    }
  }

  test("property: PqEncode equals a reference per-subspace argmin " +
    "(strict <, lowest code on ties) over random vectors/codebooks") {
    val dim = 8; val m = 4; val subDim = 2
    val vecGen = Gen.listOfN(dim, Gen.choose(-4.0, 4.0))
    val caseGen = for {
      k <- Gen.choose(1, 5)
      books <- Gen.listOfN(m,
        Gen.listOfN(k, Gen.listOfN(subDim, Gen.choose(-4.0, 4.0))))
      n <- Gen.choose(1, 6)
      vs <- Gen.listOfN(n, vecGen)
    } yield (books.map(_.map(_.toSeq).toSeq).toSeq, vs.map(_.toSeq))

    samples(caseGen, 12).foreach { case (books, vs) =>
      val df = vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
      val cb = graft.operators.ProductQuantizer
        .Codebooks(dim, m, books)
      val got = graft.operators.ProductQuantizer.encode(df, cb)
        .select("vec_id", "codes").as[(Long, Seq[Int])]
        .collect().toMap
      vs.zipWithIndex.foreach { case (v, i) =>
        val vd = v.map(_.toFloat.toDouble) // the engine casts via float
        val want = (0 until m).map { s =>
          val sub = vd.slice(s * subDim, (s + 1) * subDim)
          books(s).zipWithIndex.map { case (c, j) =>
            (c.zip(sub).map { case (a, b) =>
              (b - a) * (b - a) }.sum, j)
          }.minBy { case (d, j) => (d, j) }._2
        }
        assert(got(i.toLong) == want,
          s"vec $i: got ${got(i.toLong)} want $want")
      }
    }
  }

  test("property: Int8Quantize round-trips within scale/2 per element " +
    "and matches the reference formula") {
    val vecGen = Gen.listOfN(6, Gen.choose(-100.0, 100.0))
    samples(Gen.listOfN(4, vecGen), 8).foreach { vs =>
      val df = vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
      val got = graft.operators.Similarity.quantizeInt8(df)
        .select("vec_id", "scale", "qvec")
        .as[(Long, Double, Seq[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      vs.zipWithIndex.foreach { case (v, i) =>
        val vd = v.map(_.toFloat.toDouble)
        val maxAbs = vd.map(math.abs).max
        val (scale, codes) =
          if (maxAbs == 0.0) (0.0, vd.map(_ => 0L))
          else {
            // valueOf (shortest-repr), NOT new BigDecimal(double) —
            // the exact contract of Spark's round and the kernel
            val raw = maxAbs / 127.0
            (java.math.BigDecimal.valueOf(raw).setScale(6,
              java.math.RoundingMode.HALF_UP).doubleValue,
              vd.map(x => java.math.BigDecimal.valueOf(x / raw)
                .setScale(0, java.math.RoundingMode.HALF_UP)
                .longValue))
          }
        val (gs, gq) = (got(i.toLong)._1, got(i.toLong)._2)
        assert(gs == scale && gq == codes,
          s"vec $i: got ($gs, $gq) want ($scale, $codes)")
        // reconstruction error bound: |x - q*rawScale| <= rawScale/2
        if (maxAbs > 0) {
          val raw = maxAbs / 127.0
          vd.zip(gq).foreach { case (x, q) =>
            assert(math.abs(x - q * raw) <= raw / 2 + 1e-12) }
        }
      }
    }
  }

  private val barsGen: Gen[List[(Long, Int, Double)]] = for {
    n <- Gen.choose(2, 14)
    keys <- Gen.listOfN(n, Gen.oneOf(1L, 2L))
    vals <- Gen.listOfN(n, Gen.choose(1.0, 1000.0))
  } yield keys.zip(1 to n).zip(vals)
    .map { case ((k, t), v) => (k, t, v) }
    .distinctBy(r => (r._1, r._2))

  private def barsDfOf(rows: Seq[(Long, Int, Double)]) =
    rows.toDF("user_id", "t", "close")
      .select(col("user_id"),
        to_date(concat(lit("2024-01-"),
          format_string("%02d", col("t")))).as("date"),
        col("close"))

  test("property: emaMacd equals the sequential reference recurrence " +
    "for random series (bit-exact before rounding envelope)") {
    import graft.operators.EventSeries
    samples(barsGen, 5).filter(_.nonEmpty).foreach { rows =>
      val got = EventSeries.emaMacd(barsDfOf(rows))
        .orderBy("user_id", "date")
        .select("user_id", "ema_fast", "ema_slow", "macd",
          "macd_signal", "macd_hist")
        .as[(Long, Double, Double, Double, Double, Double)]
        .collect().toSeq
      val exp = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
        case (k, series) =>
          val closes = series.sortBy(_._2).map(_._3)
          val (aF, bF) = (2.0 / 13, 1.0 - 2.0 / 13)
          val (aS, bS) = (2.0 / 27, 1.0 - 2.0 / 27)
          val (aG, bG) = (2.0 / 10, 1.0 - 2.0 / 10)
          var e12 = 0.0; var e26 = 0.0; var sg = 0.0
          closes.zipWithIndex.map { case (c, i) =>
            if (i == 0) { e12 = c; e26 = c; sg = 0.0 }
            else {
              e12 = aF * c + bF * e12; e26 = aS * c + bS * e26
              sg = aG * (e12 - e26) + bG * sg
            }
            def r4(v: Double) = BigDecimal(v)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            (k, r4(e12), r4(e26), r4(e12 - e26), r4(sg),
              r4((e12 - e26) - sg))
          }
      }
      assert(got == exp)
    }
  }

  test("property: drawdown is never positive, peak is monotone " +
    "non-decreasing, max_drawdown is the running min") {
    import graft.operators.EventSeries
    samples(barsGen, 5).filter(_.nonEmpty).foreach { rows =>
      val out = EventSeries.drawdown(barsDfOf(rows))
        .orderBy("user_id", "date")
        .select("user_id", "peak", "drawdown_pct", "max_drawdown_pct")
        .as[(Long, Double, Double, Double)].collect().toSeq
      out.groupBy(_._1).values.foreach { series =>
        series.foreach { case (_, _, dd, mdd) =>
          assert(dd <= 0.0 && mdd <= 0.0)
        }
        series.map(_._2).sliding(2).foreach {
          case Seq(a, b) => assert(b >= a); case _ =>
        }
        val runMin = series.map(_._3).scanLeft(Double.MaxValue)(_ min _)
          .tail
        assert(series.map(_._4) == runMin)
      }
    }
  }

  test("property: obv telescopes — the final obv equals the sum of " +
    "signed volumes, and |obv step| <= volume") {
    import graft.functions.{Indicators, WindowFns}
    samples(barsGen, 5).filter(_.size >= 2).foreach { rows =>
      val df = rows.toDF("user_id", "t", "close")
        .withColumn("volume", (col("t") % 5 + 1).cast("long"))
      val w = WindowFns.series(col("user_id"), col("t"))
      val out = df.withColumn("obv",
          Indicators.obv(col("close"), col("volume"), w))
        .orderBy("user_id", "t")
        .select("user_id", "close", "volume", "obv")
        .as[(Long, Double, Long, Long)].collect().toSeq
      out.groupBy(_._1).values.foreach { series =>
        var prev = Option.empty[(Double, Long)]
        series.foreach { case (_, c, v, o) =>
          val expStep = prev match {
            case None => 0L
            case Some((pc, po)) =>
              if (c > pc) v else if (c < pc) -v else 0L
          }
          val expected = prev.map(_._2).getOrElse(0L) + expStep
          assert(o == expected)
          prev = Some((c, o))
        }
      }
    }
  }
}
