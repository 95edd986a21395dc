package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Dev.time
import graft.functions.MediaCodecs
import graft.jobs.DailyEtlJob
import graft.operators.{Dedup, Enrichment, EventSeries, Multimodal, Similarity}

/** `Dev scale`: inflate the sf0.1 fixtures N× (shifting keys so
  * cardinality grows with volume, as it would in production) and time
  * the heavy pipelines — a local check that plan shapes scale linearly
  * in rows and keys rather than hitting a super-linear wall.
  *
  *   SPARK_GRAFT_SCALE=32 sbt 'runMain graft.Dev scale'
  */
private[graft] object ScaleCheck {
  def run(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import spark.implicits._
    def inflated(table: String): DataFrame = InflateFixtures.inflate(
      spark, Tables.table(spark, sfDir, table), table, mult)
    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val events = inflated("events").cache()
    val n = events.count()

    time("daily_bars", n) { sink(EventSeries.dailyBars(events)) }
    time("fact_with_sentiment", n) {
      sink(EventSeries.fctPricesWithSentiment(events))
    }
    time("full_etl_backfill", n) {
      sink(DailyEtlJob.backfill(events,
        Enrichment.DeterministicProvider)._2)
    }
    time("ml_features", n) {
      sink(graft.ml.FeatureEngineering(EventSeries.dailyBars(events)))
    }
    time("sessions_gap30", n) { sink(EventSeries.sessions(events, 30)) }

    // round-7 series pack. The production axis for per-key series ops
    // is LONGER HISTORY over a FIXED universe (a market has bounded
    // tickers), so the bars are inflated along time: each copy shifts
    // dates by 40 days, multiplying series length, not key count.
    locally {
      val tmult = math.min(mult, 8)
      val bars0 = EventSeries.dailyBars(
        Tables.events(spark, sfDir))
      val barsT = bars0
        .crossJoin(spark.range(tmult).select(col("id").as("_c")))
        .withColumn("date",
          date_add(col("date"), (col("_c") * 40).cast("int")))
        .drop("_c").cache()
      val nb = barsT.count()
      time("ema_macd_scan", nb) { sink(EventSeries.emaMacd(barsT)) }
      time("drawdown", nb) { sink(EventSeries.drawdown(barsT)) }
      time("gap_fill_ffill", nb) { sink(EventSeries.gapFill(barsT)) }
      time("volume_anomalies", nb) {
        sink(EventSeries.volumeAnomalies(barsT))
      }
      time("momentum_quintiles", nb) {
        sink(EventSeries.momentumQuintiles(barsT))
      }
      // quadratic-in-universe pair join: candidate volume is
      // |users|²/2 per date × days — linear in HISTORY, quadratic
      // only in the bounded universe; the explicit-N repartition
      // keeps the fan-out spread across tasks
      val stagedT = EventSeries.stgDailyPrices(barsT)
      time("pair_correlation", nb) {
        sink(EventSeries.pairCorrelation(stagedT))
      }
      time("market_beta", nb) { sink(EventSeries.marketBeta(stagedT)) }
      time("return_autocorr", nb) {
        sink(EventSeries.returnAutocorr(stagedT))
      }
      // round-7 session-4 series pack: sorted-scan recurrences (one
      // Exchange, O(1) state), struct-max windows, frame moments
      time("cusum_scan", nb) { sink(EventSeries.cusum(stagedT)) }
      time("ewma_vol_scan", nb) {
        sink(EventSeries.ewmaVolatility(stagedT))
      }
      time("aroon25", nb) { sink(EventSeries.aroon(barsT, 25)) }
      time("seasonal_decompose", nb) {
        sink(EventSeries.seasonalDecompose(barsT))
      }
      time("rolling_beta30", nb) {
        sink(EventSeries.rollingBeta(stagedT, 30))
      }
      time("drift_psi", nb) {
        sink(graft.operators.Drift.psi(stagedT
          .select(col("date"), col("pct_change").as("score"))
          .where(col("score").isNotNull)))
      }
      barsT.unpersist()
    }
    time("rolling_active_users", n) {
      sink(EventSeries.rollingActiveUsers(events))
    }
    time("rfm_segments", n) { sink(EventSeries.rfmSegments(events)) }
    // round-7 session-4 event pack: visible-from explodes, (user, day)
    // windows, bounded rollups, the one-pass constraint suite
    time("stickiness28", n) { sink(EventSeries.stickiness(events, 28)) }
    time("event_paths", n) { sink(EventSeries.eventPaths(events)) }
    time("attribution", n) { sink(EventSeries.attribution(events)) }
    time("new_vs_returning", n) {
      sink(EventSeries.newVsReturning(events))
    }
    time("kaplan_meier", n) { sink(EventSeries.kaplanMeier(events)) }
    time("ab_test", n) {
      sink(graft.operators.AnalyticsViews.abTest(events))
    }
    time("constraints_suite", n) {
      import graft.operators.Constraints._
      sink(check(events, Seq(NotNull("user_id"), Unique(Seq("event_id")),
        InRange("value", 0.0, 400.0),
        InSet("event_type", Seq("click", "purchase", "signup", "view")),
        MinRows(5000))))
    }

    // JSON property extraction at volume: from_json is CodegenFallback
    // (interpreted boundary + full Jackson parse + InternalRow alloc
    // per value) while the native json_get_long structural scan stays
    // inside the generated stage — same values, same oracle (q26/q26b)
    time("json_from_json", n) {
      sink(events.filter(col("props").isNotNull)
        .select(col("event_id"), from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("k")))
    }
    time("json_native_scan", n) {
      sink(events.filter(col("props").isNotNull)
        .select(col("event_id"),
          graft.plans.JsonFns.jsonGetLong(col("props"), "k").as("k")))
    }

    // S3 at scale: the plain insert-ignore anti-join must shuffle +
    // distinct the full existing key set per batch; the bloom variant
    // probes the existing scan map-side and broadcasts only candidates
    import graft.operators.Writes
    val batch = events.filter(col("event_id") % 1000 === 0)
      .withColumn("value", lit(-1.0))
    time("insert_ignore_plain", n) {
      sink(Writes.insertIgnore(events, batch, Seq("event_id")))
    }
    time("insert_ignore_bloom", n) {
      sink(Writes.insertIgnoreBloom(events, batch, Seq("event_id")))
    }

    events.unpersist()

    val emb = inflated("embeddings").cache()
    val ne = emb.count()
    time("knn_bruteforce_top10", ne) {
      sink(Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 5), k = 10))
    }
    // the two-stage contrast at a query batch wide enough for the
    // one-time corpus projection to amortize: shortlist on 32-dim
    // projections (half the cosine bytes), exact re-rank of 100/query
    val knnQueries = emb.filter(col("vec_id") < 64)
    time("knn_bruteforce_64q", ne) {
      sink(Similarity.bruteForceTopK(emb, knnQueries, k = 10))
    }
    // shared exact baseline for the ANN recall rows below (IVF sweep +
    // IVF-PQ): 640 rows cached, computed once outside the timed rows
    val exactTop10 = Similarity.bruteForceTopK(emb, knnQueries, k = 10)
      .select(col("query_id"), col("neighbor_id")).cache()
    exactTop10.count()
    def meanRecallVs(ann: org.apache.spark.sql.DataFrame,
                     exact: org.apache.spark.sql.DataFrame): Double =
      graft.operators.ModelEval
        .annRecallAtK(ann.select(col("query_id"), col("neighbor_id")),
          exact, k = 10)
        .agg(avg(col("recall_at_k"))).collect()(0).getDouble(0)
    def meanRecall(ann: org.apache.spark.sql.DataFrame): Double =
      meanRecallVs(ann, exactTop10)
    time("knn_projected_64q", ne) {
      sink(Similarity.projectedTopK(emb, knnQueries, k = 10,
        shortlist = 100, outDim = 32))
    }
    time("lsh_cosine_pairs", ne) {
      sink(Similarity.cosineSelfPairs(emb, 0.3, planesPerBand = 8,
        bands = 2))
    }
    time("quantize_int8", ne) { sink(Similarity.quantizeInt8(emb)) }
    // PQ, staged: train amortizes across query batches (the IvfIndex
    // ops shape); encode is a zero-shuffle map; the ADC search scans
    // 8 ints per corpus row — the leg to compare against
    // knn_bruteforce_64q above
    locally {
      import graft.operators.ProductQuantizer
      var cb: ProductQuantizer.Codebooks = null
      time("pq_train", ne) {
        cb = ProductQuantizer.train(emb, dim = 64, m = 8, k = 16,
          iters = 4)
      }
      var codes: org.apache.spark.sql.DataFrame = null
      time("pq_encode", ne) {
        codes = ProductQuantizer.encode(emb, cb)
          .filter(col("codes").isNotNull).cache()
        codes.count()
      }
      time("pq_adc_search64q", ne) {
        sink(ProductQuantizer.adcSearch(codes, knnQueries, cb, k = 10))
      }
      codes.unpersist()
    }
    // IVF-PQ: build once (coarse fit + residual codebook + codes),
    // then the probed search scans only nProbe/nCentroids of the
    // 8-int-per-row codes table and re-ranks a bounded shortlist
    locally {
      import graft.operators.IvfPq
      var idx: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame,
        graft.operators.ProductQuantizer.Codebooks) = null
      time("ivfpq_build", ne) {
        idx = IvfPq.build(emb, dim = 64, nCentroids = 16, m = 8,
          k = 16, iters = 4)
        idx._2.cache().count()
      }
      time("ivfpq_search64q_probe4", ne) {
        sink(IvfPq.search(idx._1, idx._2, idx._3, knnQueries, emb,
          topK = 10, nProbe = 4, refine = 4))
      }
      // PQ-compression quality next to IVF's pruning quality below:
      // same metric, same baseline
      var rec = 0.0
      time("ivfpq_recall64q_probe4", ne) {
        rec = meanRecall(IvfPq.search(idx._1, idx._2, idx._3,
          knnQueries, emb, topK = 10, nProbe = 4, refine = 4))
      }
      println(f"[scale]   recall@10 ivfpq probe4 mean=$rec%.4f")
      idx._2.unpersist()
    }
    // ANN recall@k (q338's metric) swept over nProbe — the tuning
    // curve a production pipeline reads to pick the probe budget.
    // Each row times probed-search + metric and prints the mean
    // recall over the 64 queries (a 64-row bounded collect).
    locally {
      import graft.operators.IvfIndex
      val (centroids, cells) = IvfIndex.build(emb, nCentroids = 16)
      cells.cache().count()
      Seq(1, 2, 4, 8, 16).foreach { p =>
        var rec = 0.0
        time(s"ann_recall64q_probe$p", ne) {
          rec = meanRecall(IvfIndex
            .search(centroids, cells, knnQueries, k = 10, nProbe = p))
        }
        println(f"[scale]   recall@10 nProbe=$p%-2d mean=$rec%.4f")
      }
      cells.unpersist()
    }
    exactTop10.unpersist()
    // QUALITY curve on the RAW corpus: the inflation DUPLICATES
    // vectors (every query's true top-10 is its own copies, which
    // land in the same cell under any assignment), so inflated-corpus
    // recall reads 1.0 at every nProbe — a latency row, not a quality
    // signal. The pruning-quality curve a pipeline actually tunes by
    // needs the un-duplicated table.
    locally {
      import graft.operators.IvfIndex
      val raw = Tables.embeddings(spark, sfDir)
      val q64 = raw.filter(col("vec_id") < 64)
      val ex = Similarity.bruteForceTopK(raw, q64, k = 10)
        .select(col("query_id"), col("neighbor_id")).cache()
      ex.count()
      val (c2, cells2) = IvfIndex.build(raw, nCentroids = 16)
      cells2.cache().count()
      val curve = Seq(1, 2, 4, 8, 16).map { p =>
        val rec = meanRecallVs(
          IvfIndex.search(c2, cells2, q64, k = 10, nProbe = p), ex)
        f"$p:$rec%.4f"
      }
      println(s"[scale]   recall@10 RAW-corpus nProbe curve " +
        curve.mkString(" "))
      cells2.unpersist(); ex.unpersist()
    }
    // PCA (q119's pair): the fit is two bounded aggregations (the
    // micro-int mean and the covariance fan-out) collecting dim-bounded
    // rows; projection joins the component table by broadcast
    time("pca_fit_project", ne) {
      import graft.operators.Pca
      sink(Pca.projectExact(emb,
        Pca.fitExactMicro(emb, dim = 64, k = 8).toTable(spark), dim = 64))
    }
    time("covariance_relational", ne) {
      sink(graft.operators.Pca.covarianceMatrix(emb, 64))
    }
    time("label_centroids", ne) {
      sink(graft.operators.EmbeddingStats.groupCentroids(emb))
    }
    // SemDeDup: centroid assignment is the fused native argmax kernel
    // (map-side, no shuffle); the near-dup self-join keys on
    // (cluster, blockLo, blockHi) — blocked all-pairs by default, so
    // a hot cluster parallelizes instead of pinning a straggler.
    // Quadrupling k cuts TOTAL pair volume ~4× (clusters shrink);
    // blocking bounds how that volume lands on tasks. Measured
    // history in BASELINE.md (HOF assignment → kernel → explicit-N
    // repartition → default blocking: k64 628 s → 94 s).
    time("semantic_dedup_k64", ne) {
      sink(graft.operators.SemDedup.semanticDedup(emb, k = 64,
        tau = 0.4))
    }
    time("semantic_dedup_k256", ne) {
      sink(graft.operators.SemDedup.semanticDedup(emb, k = 256,
        tau = 0.4))
    }
    // incremental maintenance path: the inflated corpus plays the
    // already-kept state (assignment only), a raw-SF slice the batch —
    // state is scanned once and probed by the broadcast batch
    time("incremental_semdedup", ne) {
      val cs = graft.operators.SemDedup.seedCentroids(emb, 64)
      val st = graft.operators.SemDedup.assign(emb, cs)
        .select(col("vec_id"), col("vec").as("embedding"),
          col("cluster"))
      sink(graft.operators.SemDedup.incrementalSemDedup(cs, st,
        Tables.embeddings(spark, sfDir), tau = 0.4))
    }
    emb.unpersist()

    val docs = inflated("documents").cache()
    val nd = docs.count()
    time("minhash_signatures", nd) {
      sink(Dedup.minhashSignatures(docs, k = 8, n = 2))
    }
    // the pair/label contrast: inflation makes every doc a member of a
    // 32-copy duplicate cluster, so PAIR enumeration is quadratic in
    // cluster size while GROUP labeling stays linear — the reason
    // minhashDedupGroups is the scale path (Dedup scaladoc)
    time("minhash_lsh_pairs", nd) {
      sink(Dedup.minhashLshPairs(docs, k = 8, bands = 4, n = 2))
    }
    time("minhash_dedup_groups", nd) {
      sink(Dedup.minhashDedupGroups(docs, k = 8, bands = 4, n = 2))
    }
    // incremental maintenance path: the inflated corpus is the
    // persisted index, a raw-SF slice is the arriving batch — the
    // index side is scanned once, banded map-side, probed by the
    // broadcast batch (zero index shuffle; contrast minhash_lsh_pairs
    // which re-bands and self-joins everything)
    time("incremental_lsh_dedup", nd) {
      val idx = Dedup.minhashSignatures(docs, k = 8, n = 2)
      sink(Dedup.incrementalLshDedup(idx,
        Tables.documents(spark, sfDir), k = 8, bands = 4, n = 2,
        minMatches = 6))
    }
    // the SimHash flavor of the same rebuild-vs-probe contrast:
    // the rebuild re-bands and self-joins every print (and the
    // 32-copy clusters make its pair output quadratic per cluster);
    // the incremental probe scans the persisted prints once and
    // broadcasts the banded batch
    val prints = docs.select(col("doc_id"),
      graft.functions.TextFns.simhash64(col("text")).as("simhash"))
    time("simhash_pairs_rebuild", nd) {
      sink(Dedup.hammingBandPairs(prints, "simhash", "doc_id",
        maxHamming = 3))
    }
    time("incremental_simhash_dedup", nd) {
      sink(Dedup.incrementalSimhashDedup(prints,
        Tables.documents(spark, sfDir)))
    }
    // hot-shingle posting cap (VERDICT r03 #2): give every fixture doc a
    // shared boilerplate header, so the header shingles' posting lists
    // are the WHOLE corpus — the inverted-index self-join would produce
    // sum(df²) rows through them. Report both cardinalities; run only
    // the capped (linear) variant — the uncapped join-row count IS the
    // blowup ngramJaccardPairs.maxDf exists to prevent.
    locally {
      val fixture = Tables.documents(spark, sfDir)
      val nb = fixture.count()
      val boiler = fixture.select(col("doc_id"),
        concat(lit("terms of service apply to all content here "),
          col("text")).as("text"))
      val posting = boiler.select(
          explode(graft.functions.TextFns.shingles(col("text"), 2))
            .as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("df"))
      val agg = posting.agg(
        sum(col("df") * col("df")),
        sum(when(col("df") <= 1000, col("df") * col("df"))
          .otherwise(lit(0L)))).head
      println(s"[scale] jaccard self-join rows: uncapped=${agg.getLong(0)}" +
        s" capped(maxDf=1000)=${agg.getLong(1)}")
      time("ngram_jaccard_capped", nb) {
        sink(Dedup.ngramJaccardPairs(boiler, n = 2, threshold = 0.9,
          maxDf = 1000))
      }
    }
    time("simhash64", nd) {
      sink(docs.select(col("doc_id"),
        graft.functions.TextFns.simhash64(col("text"))))
    }
    // containment: same posting-list shape as jaccard (maxDf-capped)
    time("containment_pairs_capped", nd) {
      sink(Dedup.containmentPairs(docs, n = 2, threshold = 0.9,
        maxDf = 1000))
    }
    // distribution diagnostics: token-keyed joins/windows, group-count
    // outputs — sources stay fixture-cardinality while docs inflate
    time("js_divergence", nd) {
      sink(graft.operators.CorpusOverlap.sourceJsDivergence(docs))
    }
    time("zipf_slope", nd) {
      sink(graft.operators.Relevance.zipfSlope(docs))
    }
    // audio DSP at volume: decode + integer activity + FFT power
    // spectrum, both map-side
    time("audio_activity_spectral", nd) {
      val media = docs.select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (256 + id % 64).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 97 + i * 31) % 4096) - 2048).toInt)
          Multimodal.MediaRow(id, "audio",
            MediaCodecs.encodeWav(MediaCodecs.PcmAudio(16000, samples)))
        }).toDF()
      sink(Multimodal.audioActivity(media))
      sink(Multimodal.audioSpectrum(media))
    }
    time("rolling_fingerprint", nd) {
      sink(docs.select(col("doc_id"),
        graft.functions.TextFns.rollingFingerprint(col("text"))))
    }
    // color-PNG encode+decode at volume (the q103 path): one
    // partition-local map, no shuffle — the row measures pure-JVM codec
    // throughput with the color type rotating truecolor/palette/RGBA.
    // (Formula channels cycle mod 256, so palette frames always fit
    // the 256-entry PLTE regardless of raster size.)
    time("png_color_roundtrip", nd) {
      val media = docs.select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val ct = (id % 3) match { case 0 => 2; case 1 => 3; case _ => 6 }
          val w = (8 + id % 23).toInt
          val h = (8 + id % 17).toInt
          val px = Array.tabulate(w * h) { i =>
            val r = ((id + 3 * i) % 256).toInt
            val g = ((2 * id + 5 * i) % 256).toInt
            val b = ((3 * id + 7 * i) % 256).toInt
            val a = if (ct == 6) ((5 * id + 11 * i) % 256).toInt else 255
            (a << 24) | (r << 16) | (g << 8) | b
          }
          Multimodal.MediaRow(id, "image", MediaCodecs.encodePngArgb(
            MediaCodecs.PngImage(w, h, ct, px)))
        }).toDF()
      sink(Multimodal.colorStats(media))
    }
    import graft.operators.{Decontaminate, Packing, Repetition, Sampling}
    // round-7 session-4 text pack: zero-shuffle HOF profiles, bounded
    // vocab broadcast, hash-bucketed manifests/batching
    time("line_shape", nd) {
      sink(graft.operators.QualityFilters.lineShapeStats(docs))
    }
    time("oov_rate_top1000", nd) {
      sink(graft.operators.Relevance.oovRate(docs, 1000))
    }
    time("char_entropy", nd) {
      sink(graft.operators.Relevance.charEntropy(docs))
    }
    time("token_lorenz", nd) {
      sink(graft.operators.Relevance.tokenLorenz(docs))
    }
    time("padding_waste", nd) { sink(Packing.paddingWaste(docs)) }
    time("shard_manifest_3x8", nd) {
      sink(Sampling.shardManifest(docs, epochs = 3, shards = 8))
    }
    time("repetition_profile", nd) { sink(Repetition.profile(docs)) }
    time("cap_per_group", nd) {
      sink(Sampling.capPerGroup(docs.select("doc_id", "source"),
        "source", "doc_id", 1000))
    }
    time("sequence_packing", nd) {
      sink(Packing.packCoordinates(docs, seqLen = 2048))
    }
    // eval set stays fixture-sized while the corpus inflates — the
    // broadcast-probe shape this op exists for
    time("decontaminate", nd) {
      sink(Decontaminate.contaminationStats(docs,
        Tables.documents(spark, sfDir).limit(500), n = 5))
    }
    // self exact-substring dedup: the ONE corpus-wide gram shuffle
    // (md5 digests, not token strings). Inflation makes every gram a
    // 32-occurrence group, so the rank/island stages see maximal dup
    // pressure — the worst case for this operator
    time("self_exact_substr", nd) {
      sink(Decontaminate.selfExactSubstrStats(docs, minTokens = 10))
    }
    // the composed prep pipeline: inflation makes every doc a 32-copy
    // cluster, so the dedup stages collapse the corpus back to ~1/32.
    // Token-granularity boilerplate stripping is degenerate on the
    // tiny synthetic vocabulary (every token is "frequent"), so it is
    // neutralized here; CorpusPrepSpec pins its real line semantics.
    time("corpus_prep_pipeline", nd) {
      val (_, ledger) = graft.jobs.CorpusPrepJob.run(
        docs.select(col("doc_id"), col("text"), col("lang"),
          col("source")),
        Tables.documents(spark, sfDir).limit(200),
        graft.jobs.CorpusPrepJob.Config(boilerplateMinDocFrac = 1.0))
      println(s"[scale]   prep ledger: ${ledger.mkString(" -> ")}")
    }
    // Gopher rule gate: pure map projection — the per-row expression
    // cost is the whole cost
    time("gopher_flags", nd) {
      sink(graft.operators.QualityFilters.gopherFlags(docs))
    }
    // frequency profile A/B: exact top-k shuffles one row per DISTINCT
    // token; the CMS path shuffles fixed sketch state + a bounded
    // candidate set. Same head set (SketchesSpec), different state
    // growth — the gap widens with vocabulary, not with rows
    locally {
      val toks = docs.select(explode(
        graft.functions.TextFns.tokens(col("text"))).as("token"))
      val nt = toks.count()
      time("topk_exact_groupby", nt) {
        sink(toks.groupBy("token").count()
          .orderBy(col("count").desc, col("token")).limit(20))
      }
      time("topk_cms_sketch", nt) {
        sink(graft.operators.Sketches.heavyHitters(toks, "token",
          k = 20))
      }
    }
    // cross-source overlap: the type-level distinct bounds the pair
    // join by gram types, so inflating docs 32× (same vocabulary)
    // must NOT inflate the join — wall time should grow with the
    // distinct shuffle, not quadratically
    time("source_overlap", nd) {
      sink(graft.operators.CorpusOverlap.sourceNgramOverlap(docs))
    }
    // the prefix-scan A/B (q106): identical results, one plan funnels
    // every row through a single-partition window, the other keeps
    // the scan parallel with a numPartitions-row offset table
    locally {
      import org.apache.spark.sql.expressions.Window
      val scored = docs.select(col("doc_id"),
        graft.functions.TextFns.qualityScore(col("text")).as("q"),
        graft.functions.TextFns.tokenCount(col("text")).cast("long")
          .as("v")).cache()
      scored.count()
      time("prefix_scan_naive", nd) {
        sink(scored.withColumn("cum", sum(col("v")).over(
          Window.orderBy(col("q").desc, col("doc_id").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      }
      time("prefix_scan_distributed", nd) {
        sink(graft.operators.Ranks.prefixSums(scored,
          Seq(col("q").desc, col("doc_id").asc), Seq("cum" -> col("v"))))
      }
      scored.unpersist()
    }
    docs.unpersist()

    // round-7 session-5 pack: agreement/rank stats (windows + hash
    // aggs on the shared keys), the quadratic-per-key Kendall join,
    // exact-disc quantile patterns, and the embedding-space audits
    // (bounded-cluster fan-outs vs all-pairs probes)
    locally {
      val ev5 = inflated("events").cache()
      val n5 = ev5.count()
      val bars5 = EventSeries.dailyBars(ev5)
      val staged5 = EventSeries.stgDailyPrices(bars5)
      time("runs_test", n5) { sink(EventSeries.runsTest(staged5)) }
      time("skew_kurtosis", n5) { sink(EventSeries.skewKurt(staged5)) }
      time("var_es_5pct", n5) { sink(EventSeries.varEs(staged5)) }
      time("adx14_vortex", n5) {
        val (dip, dim2, adx) = graft.functions.Indicators.adx(
          col("high"), col("low"), col("close"),
          graft.functions.WindowFns.series(col("user_id"), col("date")),
          14)
        sink(bars5.select(col("user_id"), col("date"), dip, dim2, adx))
      }
      time("ad_line_cumsum", n5) { sink(EventSeries.adLine(bars5)) }
      time("calendar_range_mean", n5) {
        sink(EventSeries.calendarMean(bars5, 7))
      }
      time("cross_sectional_rank", n5) {
        sink(EventSeries.crossSectionalRank(staged5))
      }
      time("capture_ratios", n5) {
        sink(EventSeries.captureRatios(staged5))
      }
      time("forecast_mase", n5) {
        sink(EventSeries.forecastErrors(staged5))
      }
      time("ljung_box", n5) { sink(EventSeries.ljungBox(staged5)) }
      time("dow_anova", n5) { sink(EventSeries.dowAnova(staged5)) }
      // quadratic in each key's OWN series length (time-inflation
      // would square it; user-inflation keeps per-key windows at
      // fixture length — the production shape for a bounded universe)
      time("kendall_tau_pairs", n5) {
        sink(EventSeries.kendallTau(staged5))
      }
      time("session_stats", n5) {
        sink(EventSeries.sessionStats(EventSeries.sessions(ev5, 30)))
      }
      time("whale_share", n5) { sink(EventSeries.whaleShare(ev5)) }
      time("churn_sensitivity", n5) {
        sink(EventSeries.churnSensitivity(ev5))
      }
      time("decile_migration", n5) {
        sink(EventSeries.decileMigration(ev5))
      }
      time("calendar_gaps", n5) { sink(EventSeries.calendarGaps(ev5)) }
      ev5.unpersist()

      val emb5 = inflated("embeddings").cache()
      val ne5 = emb5.count()
      // bounded-cluster fan-out (points × dims × 10 labels) — linear
      time("silhouette_centroid", ne5) {
        sink(graft.operators.EmbeddingStats.silhouette(emb5))
      }
      time("davies_bouldin", ne5) {
        sink(graft.operators.EmbeddingStats.daviesBouldin(emb5))
      }
      time("centroid_classifier", ne5) {
        sink(graft.operators.EmbeddingStats.centroidClassify(emb5))
      }
      emb5.unpersist()

      val docs5 = inflated("documents").cache()
      val nd5 = docs5.count()
      time("vocab_richness", nd5) {
        sink(graft.operators.Relevance.vocabRichness(docs5))
      }
      time("burstiness_top50", nd5) {
        sink(graft.operators.Relevance.burstiness(docs5))
      }
      time("template_groups", nd5) {
        sink(graft.operators.Relevance.templateGroups(docs5))
      }
      time("vocab_growth", nd5) {
        sink(graft.operators.Relevance.vocabGrowth(docs5))
      }
      time("code_detection_scan", nd5) {
        sink(docs5.select(col("doc_id"),
          graft.functions.TextFns.complexWordCount(col("text")),
          graft.functions.TextFns.gunningFog(col("text"))))
      }
      docs5.unpersist()
    }
  }
}
