package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline query set on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...} for the driver.
  *
  * Queries are materialized via a noop-format write — a count() would let
  * Catalyst prune every computed column and time only the scan. The
  * headline set covers each operator family once; the intentionally
  * pair-explosive document queries (q34/q39, O(pairs) outputs) are
  * exercised by Verify at sf0.01 but excluded from timing.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q01_global_agg", "q02_group_agg", "q03_supplier_stats",
    "q05_left_join_agg", "q06_join3", "q07_anti_join",
    "q10_daily_bars", "q11_staged_prices", "q15_rsi", "q17_bollinger",
    "q18_fact_sentiment", "q20_string_agg", "q22_insert_ignore",
    // q26b is the same JSON extraction as q26 through the native
    // codegen scan (same oracle; the from_json variant stays in the
    // correctness set) — headline measures the engine's intended path.
    // Swap disclosed + A/B-measured in BASELINE.md round 4.
    "q25_temporal", "q26b_json_native", "q28_token_stats",
    "q31_dedup_exact", "q33_minhash_sigs", "q35_knn",
    "q41_accuracy_by_user", "q44_class_metrics")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle sizing, measured at sf0.1 (sub-GB, single-row-group
    // fixture files → single-task scans): a FIXED small partition count
    // beats AQE at this scale. AQE's only value here is coalescing 32
    // tiny reduce partitions, which parts=4 does up front (32+AQE:
    // 12.9s, 4+AQE: 12.8s, 32 fixed: 17.6s, 4 fixed: 10.3s total) —
    // AQE's per-stage materialization costs ~0.1s/query on top. At
    // cluster scale the trade inverts (real shuffles need cpus×executors
    // partitions and runtime skew/coalesce handling), so production
    // sessions keep AQE on; both knobs stay env-overridable.
    // The default partition count grows with the fixture size (~16 MB
    // per shuffle partition, floor 4) and is capped at the core count —
    // measured on the 32× inflated fixtures (599 MB): parts=9 (the old
    // 64 MB divisor) ran 48 s, parts=cpus=32 ran 27.5 s, parts=64 was
    // slower again (scheduling overhead past core count). Single-file
    // fixtures report the file size; directory fixtures (InflateFixtures
    // output) are summed.
    // listFiles returns null on I/O error (a dir can vanish between the
    // isDirectory probe and the listing) — a sizing heuristic must not
    // NPE the driver over it
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(_.length).sum).getOrElse(0L)
      else f.length
    val dataBytes = Tables.names.map(n =>
      sizeOf(new java.io.File(s"$sfDir/$n.parquet"))).sum
    val defaultParts = math.min(cpus.toLong,
      math.max(4L, dataBytes / (16L << 20))).toString
    val spark = Sessions.local(cpus.toInt,
      "spark.sql.shuffle.partitions" ->
        sys.env.getOrElse("SPARK_GRAFT_PARTS", defaultParts),
      "spark.sql.adaptive.enabled" ->
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"),
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m")
    // untimed warm-up: JIT + codegen + filesystem metadata, so the first
    // timed query doesn't absorb session start-up cost
    spark.range(1000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    Tables.warm(spark, sfDir)
    // hot-run timing: best of `runs` executions per query — steady-state
    // throughput with codegen compiled, matching how the DuckDB baseline
    // is measured (warm OS cache, compiled pipelines)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val (mainRuns, errors) = timeQueriesRuns(spark, sfDir, runs, headline)
    val results = mainRuns.map { case (k, ts) => k -> ts.min }
    val total = results.map(_._2).sum
    // the raw-corpus ANN quality curve (recall@10 over nProbe) as a
    // recurring artifact row — quality-vs-probe is versioned evidence
    // like every perf claim (measured on the UN-inflated embeddings:
    // the inflations duplicate vectors, which reads recall 1.0 at
    // every probe — a latency row, not a quality signal)
    val recallCurve = annRecallCurve(spark, sfDir)
    val b32opt = bench32(spark, cpus.toInt, sfDir)
    val b128opt = bench128(spark, cpus.toInt, sfDir)
    // contention outlier guard: a bench32 best-of-N exceeding 5× the
    // SAME query's bench128 best (4× the data) is physically impossible
    // as a real regression — the r8-q44/q18 and r10-q11/q15 pattern.
    // Re-run each such query once now (after both legs, a later window)
    // and record BOTH numbers so the artifact adjudicates itself.
    val (rerun32, rerunErrors) = (b32opt, b128opt) match {
      case (Some((r32, _, _, _, dir32)), Some((r128, _, _, _, _))) =>
        contentionReruns(r32,
          r128.map { case (k, ts) => k -> ts.min }.toMap,
          n => timeOnce(spark, dir32, n))
      case _ => (Seq.empty[(String, Double)], Seq.empty[String])
    }

    // FULL per-query detail (the pre-r10 three-leg JSON) → a committed
    // file. The driver's artifact keeps only a 2000-char stdout TAIL:
    // once the three-leg line outgrew that window (r7) the artifact's
    // "parsed" went null and whole legs fell out of the record — the
    // stdout line below is now compact BY CONSTRUCTION and the detail
    // lives here.
    def legDetail(name: String, perRun: Seq[(String, Seq[Double])],
                  duck: Option[(Double, Map[String, Double])], mult: Int,
                  legRuns: Int, legErrors: Seq[String],
                  extra: Seq[(String, Double)] = Seq.empty,
                  rerun: Seq[(String, Double)] = Seq.empty): String = {
      val qs = perRun.map { case (k, ts) => k -> ts.min }
      val sparkSec = qs.map(_._2).sum
      val qsJson = qs.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      // EVERY run sample, not just the min: a systemically contended
      // window is invisible in a per-window min but obvious in the raw
      // samples (r10's bench32 q11 read 39 s in all three runs of one
      // window vs 2 s clean) — the artifact must carry its own evidence
      val runsJson = perRun.map { case (k, ts) =>
        "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      }.mkString(""","runs_detail":{""", ",", "}")
      val duckPart = duck.map { case (d, perQ) =>
        // per-query DuckDB times + ratios so a bar judgment can name
        // WHICH query is slow instead of guessing from two totals
        val dq = perQ.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")
        val ratios = qs.flatMap { case (k, v) =>
          perQ.get(k).filter(_ > 0).map(dd =>
            "\"" + k + "\":" + f"${v / dd}%.2f")
        }.mkString("{", ",", "}")
        s""","duckdb_sec":$d,"ratio":${sparkSec / d},"duckdb_queries":$dq,"ratios":$ratios"""
      }.getOrElse("")
      // extras (e.g. q06_bucketed) are timings OUTSIDE the headline
      // totals/ratio — the DuckDB side times the flat files only
      val extraPart =
        if (extra.isEmpty) ""
        else extra.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString(""","extra":{""", ",", "}")
      // outlier-guard re-runs (see main): original numbers stay; the
      // re-measured sample and the adjusted total/ratio ride alongside
      val rerunPart =
        if (rerun.isEmpty) ""
        else {
          val rr = rerun.map { case (k, v) => "\"" + k + "\":" + v }
            .mkString("{", ",", "}")
          val adj = rerunAdjusted(qs, rerun.toMap)
          val adjRatio = duck.map { case (d, _) =>
            s""","ratio_rerun_adjusted":${f"${adj / d}%.2f"}""" }
            .getOrElse("")
          s""","contention_rerun":$rr,"spark_sec_rerun_adjusted":$adj$adjRatio"""
        }
      // carries its OWN run count: the top-level "runs" describes the
      // main leg only
      s""","$name":{"spark_sec":$sparkSec$duckPart,"runs":$legRuns,"mult":$mult,"queries":$qsJson$runsJson$extraPart$rerunPart${errJson(legErrors)}}"""
    }
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val mainRunsJson = mainRuns.map { case (k, ts) =>
      "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString(""","runs_detail":{""", ",", "}")
    val curveJson = recallCurve.map(c => c.map { case (p, r) =>
        "\"" + p + "\":" + f"$r%.4f" }
      .mkString(""","ann_recall_curve":{""", ",", "}")).getOrElse("")
    val b32d = b32opt.map { case (r32, duck, runs32, errs32, _) =>
      legDetail("bench32", r32, duck, 32, runs32,
        errs32 ++ rerunErrors, rerun = rerun32)
    }.getOrElse("")
    val b128d = b128opt.map { case (r128, extra, duck, runs128, errs128) =>
      legDetail("bench128", r128, duck, 128, runs128, errs128, extra)
    }.getOrElse("")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"agg":"min","queries":$qsFull$mainRunsJson$curveJson,"sf":"$sfDir"${errJson(errors)}$b32d$b128d}"""
    // keyed by core count so the driver's lower-core leg doesn't
    // clobber the 32-core detail (r12 lost the 32-core bench128
    // per-query ratios this way) — both legs' details now coexist
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      s"BENCH_detail_c$cpus.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath), detail + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] detail write failed: $e") }

    // compact FINAL stdout line: leg totals + aggregate ratios only,
    // per-query times at 3dp for the main leg, error COUNTS not
    // messages — and a hard length guard that drops the queries map
    // rather than ever exceeding the driver's tail window
    def r3(d: Double) = f"$d%.3f"
    def legCompact(name: String, sparkSec: Double,
                   duck: Option[(Double, Map[String, Double])], mult: Int,
                   legRuns: Int, nErr: Int,
                   rerun: Seq[(String, Double)] = Seq.empty,
                   adjSec: Option[Double] = None): String = {
      val duckPart = duck.map { case (d, _) =>
        s""","duckdb_sec":${r3(d)},"ratio":${f"${sparkSec / d}%.2f"}"""
      }.getOrElse("")
      val errPart = if (nErr == 0) "" else s""","n_errors":$nErr"""
      val rerunPart =
        if (rerun.isEmpty) ""
        else {
          val adjRatio = (duck, adjSec) match {
            case (Some((d, _)), Some(a)) =>
              s""","ratio_rerun_adjusted":${f"${a / d}%.2f"}"""
            case _ => ""
          }
          s""","n_contention_reruns":${rerun.size}$adjRatio"""
        }
      s""","$name":{"spark_sec":${r3(sparkSec)}$duckPart,"runs":$legRuns,"mult":$mult$errPart$rerunPart}"""
    }
    val b32c = b32opt.map { case (r32, duck, runs32, errs32, _) =>
      val best = r32.map { case (k, ts) => k -> ts.min }
      val adj = rerunAdjusted(best, rerun32.toMap)
      legCompact("bench32", best.map(_._2).sum, duck, 32, runs32,
        errs32.size + rerunErrors.size, rerun32, Some(adj))
    }.getOrElse("")
    val b128c = b128opt.map { case (r128full, extra, duck, runs128, errs128) =>
      val r128 = r128full.map { case (k, ts) => k -> ts.min }
      // bench128's duckdb total = sum over the queries actually timed
      val d128 = duck.map { case (_, perQ) =>
        (perQ.filter { case (k, _) => r128.exists(_._1 == k) }
          .values.sum, perQ)
      }
      val leg = legCompact("bench128", r128.map(_._2).sum, d128, 128,
        runs128, errs128.size)
      // surface the bucketed-layout extra in the compact line too —
      // it's the recurring evidence for the q06 storage answer
      val extraPart = extra.map { case (k, v) =>
        s""","$k":${r3(v)}"""
      }.mkString
      if (extraPart.isEmpty) leg
      else leg.patch(leg.lastIndexOf("}"), extraPart + "}", 1)
    }.getOrElse("")
    val qsCompact = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val errPart = if (errors.isEmpty) "" else s""","n_errors":${errors.size}"""
    // the recall curve is ~60 chars — short enough for the compact
    // line, so the driver artifact itself carries the quality datapoint
    val curveCompact = recallCurve.map(c => c.map { case (p, r) =>
        "\"" + p + "\":" + f"$r%.4f" }
      .mkString(""","ann_recall_curve":{""", ",", "}")).getOrElse("")
    def line(withQueries: Boolean) = {
      val q = if (withQueries) s""","queries":$qsCompact""" else ""
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"agg":"min"$q$curveCompact,"sf":"$sfDir"$errPart$b32c$b128c,"detail":"$detailPath"}"""
    }
    val full = line(withQueries = true)
    println(if (full.length <= 1900) full else line(withQueries = false))
    spark.stop()
  }

  /** Crossover leg (round-7 verdict item 5; widened to the FULL
    * headline set per the round-8 verdict): sub-second queries at 32×
    * are dominated by Spark's fixed per-job cost, so their ratios
    * FALL with data size — demonstrated, not argued, by timing the
    * whole 21-query headline set on the 128× inflation with the
    * DuckDB oracle replayed on the same files (r8 timed only the ten
    * ex->2× queries, leaving q18 — the most expensive headline query —
    * without an amortized datapoint). Materialization is one-time
    * (fingerprint-cached like the 32× leg); opt out with
    * SPARK_GRAFT_BENCH128=0; any failure skips the leg. */
  private def bench128(spark: SparkSession, cpus: Int, sfDir: String)
      : Option[(Seq[(String, Seq[Double])], Seq[(String, Double)],
        Option[(Double, Map[String, Double])], Int, Seq[String])] = {
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH128", "1") == "0") return None
    try {
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF128_DIR",
        "/tmp/graft_sf128")
      val want = InflateFixtures.ensure(spark, sfDir, dir, 128, cpus)
      val runs128 = sys.env.getOrElse("SPARK_GRAFT_BENCH128_RUNS", "2").toInt
      val (results, errors) =
        timeQueriesRuns(spark, dir, runs128, headline)
      // recurring q06 bucketed-layout leg (round-9 A/B promoted to the
      // per-round protocol): the SAME aggregation as q06_join3 but
      // over orders/customer persisted bucketed+sorted by custkey —
      // the storage option the engine offers for hot join keys
      // (Bucketing scaladoc; measured ~25-40% under the flat layout
      // at 128×). Kept OUT of the headline totals/ratio: the DuckDB
      // side times the flat files, so folding this in would skew the
      // aggregate; it rides as its own "extra" entry instead.
      val extra = q06Bucketed(spark, cpus, dir, want, runs128)
        .map(t => Seq("q06_bucketed" -> t)).getOrElse(Seq.empty)
      Some((results, extra, duckdbTimesFor(dir, runs128, headline),
        runs128, errors))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench128] skipped: $e")
        None
    }
  }

  /** Warm best-of-`runs` time of the q06_join3 aggregation over the
    * BUCKETED layout — orders/customer persisted bucketed+sorted by
    * custkey under `<dir>_bucketq06` (one-time, fingerprinted to the
    * inflation; later sessions re-register the persisted locations
    * via [[operators.Bucketing.ensureExternalBucketed]]). None on any
    * failure — this extra never fails the leg. */
  private def q06Bucketed(spark: SparkSession, cpus: Int, dir: String,
                          fingerprint: String, runs: Int)
      : Option[Double] =
    try {
      import org.apache.spark.sql.functions._
      val base = s"${dir}_bucketq06"
      operators.Bucketing.ensureExternalBucketed(spark,
        Tables.table(spark, dir, "orders"),
        "orders_bq06", "o_custkey", cpus, s"$base/orders_bq06",
        fingerprint)
      operators.Bucketing.ensureExternalBucketed(spark,
        Tables.table(spark, dir, "customer")
          .withColumnRenamed("c_custkey", "o_custkey"),
        "customer_bq06", "o_custkey", cpus, s"$base/customer_bq06",
        fingerprint)
      def q = operators.Bucketing
        .cobucketedJoin(spark, "orders_bq06", "customer_bq06",
          "o_custkey")
        .join(broadcast(Tables.table(spark, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("n_name"))
      Some((1 to runs).map { _ =>
        val t0 = System.nanoTime()
        q.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min)
    } catch { case e: Throwable =>
      System.err.println(s"[bench128] q06_bucketed skipped: $e"); None }

  /** A loud in-JSON marker for any failed query run — an executor error
    * buried in the stderr tail once let a stalled sample pass as a real
    * measurement. Empty → omitted. */
  private[graft] def errJson(errors: Seq[String]): String =
    if (errors.isEmpty) ""
    else errors.map(JsonUtil.quote).mkString(""","errors":[""", ",", "]")

  /** Raw-corpus IVF recall@10 over the nProbe sweep (the ScaleCheck
    * protocol, promoted to a per-round artifact row): 64 queries,
    * nCentroids = 16, exact baseline from brute force on the same
    * un-inflated embeddings. None on any failure or opt-out
    * (SPARK_GRAFT_RECALL_CURVE=0) — never fails the bench. */
  private def annRecallCurve(spark: SparkSession, sfDir: String)
      : Option[Seq[(Int, Double)]] =
    if (sys.env.getOrElse("SPARK_GRAFT_RECALL_CURVE", "1") == "0") None
    else try {
      import org.apache.spark.sql.functions._
      val raw = Tables.embeddings(spark, sfDir)
      val q64 = raw.filter(col("vec_id") < 64)
      val exact = operators.Similarity.bruteForceTopK(raw, q64, k = 10)
        .select(col("query_id"), col("neighbor_id")).cache()
      exact.count()
      val (cent, cells) = operators.IvfIndex.build(raw, nCentroids = 16)
      cells.cache().count()
      val curve = Seq(1, 2, 4, 8, 16).map { p =>
        val rec = operators.ModelEval.annRecallAtK(
            operators.IvfIndex.search(cent, cells, q64, k = 10,
              nProbe = p).select(col("query_id"), col("neighbor_id")),
            exact, k = 10)
          .agg(avg(col("recall_at_k"))).collect()(0).getDouble(0)
        p -> rec
      }
      cells.unpersist(); exact.unpersist()
      Some(curve)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] recall curve skipped: $e"); None }

  /** Warm best-of-`runs` wall time per named query (noop-format
    * materialization, same discipline as the headline leg) — shared
    * with `Dev crossover`. Returns every individual run time per
    * query: `min` over one sampling window cannot reject a
    * systemically contended interval (the r8/r10 bench32 samples), so
    * the artifact carries the raw runs and a contended window is
    * diagnosable from the record itself. */
  private[graft] def timeQueriesRuns(spark: SparkSession, sfDir: String,
                                     runs: Int, names: Seq[String])
      : (Seq[(String, Seq[Double])], Seq[String]) = {
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = names.filter(SparkEntry.queries.contains).map { name =>
      name -> (1 to runs).map { _ =>
        val (t, err) = timeOnce(spark, sfDir, name)
        err.foreach(errors += _)
        t
      }
    }
    (results, errors.toSeq)
  }

  /** Contention outlier guard: a bench32 best-of-N exceeding `factor`×
    * the SAME query's bench128 best (4× the data) is physically
    * impossible as a real regression — the r8-q44/q18 and r10-q11/q15
    * pattern. Re-runs each such query once through `timer` and returns
    * (valid re-run samples, errors). A FAILED re-run (typically fast)
    * must never become a valid small sample that lowers the adjusted
    * total — it is recorded as an error and the adjustment skipped for
    * that query. Pulled out of main() so the path is spec-testable
    * before a genuinely contended driver window needs it. */
  private[graft] def contentionReruns(
      r32: Seq[(String, Seq[Double])],
      best128: Map[String, Double],
      timer: String => (Double, Option[String]),
      factor: Double = 5.0)
      : (Seq[(String, Double)], Seq[String]) = {
    val errs = scala.collection.mutable.ListBuffer.empty[String]
    val reruns = r32.flatMap { case (name, ts) =>
      val t32 = ts.min
      best128.get(name)
        .filter(t128 => t128 > 0 && t32 > factor * t128)
        .flatMap { _ =>
          System.err.println(s"[bench32] $name best $t32 s exceeds " +
            s"${factor}x its bench128 time — contention suspected, " +
            "re-running")
          val (t, err) = timer(name)
          err match {
            case Some(e) =>
              errs += s"contention_rerun failed: $e"
              None
            case None => Some(name -> t)
          }
        }
    }
    (reruns, errs.toSeq)
  }

  /** The rerun-adjusted leg total: each query takes min(original best,
    * re-run sample); queries without a (valid) re-run keep their
    * original best. */
  private[graft] def rerunAdjusted(best: Seq[(String, Double)],
                                   rerun: Map[String, Double]): Double =
    best.map { case (k, v) => math.min(v, rerun.getOrElse(k, v)) }.sum

  /** One timed noop-materialized execution: (elapsed sec, error if the
    * run failed — the elapsed time is recorded either way, so a failed
    * sample is visible instead of silently shrinking the run count). */
  private[graft] def timeOnce(spark: SparkSession, sfDir: String,
                              name: String): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try {
        SparkEntry.queries(name)(spark, sfDir).write.format("noop")
          .mode("overwrite").save()
        None
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Some(s"$name: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
      }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** Amortized-scale leg (the number that proves the 2× bar): the sf0.1
    * fixtures are single-row-group files whose scans cannot split, so
    * the ~0.2-0.4 s/query session floor dominates that total and the
    * DuckDB ratio reads 6× (BASELINE.md). This leg times the same
    * headline set on the 32×-inflated multi-file fixtures — materialized
    * once into /tmp/graft_sf32 and reused across rounds — and, when
    * python3+duckdb are present (driver-side tooling), replays the same
    * oracle SQL there for the amortized ratio, folding what used to be a
    * manual InflateFixtures + tools/duck_bench.py protocol into the
    * driver artifact. Opt out with SPARK_GRAFT_BENCH32=0; any failure
    * skips the leg (stderr note) rather than failing the bench. */
  private def bench32(spark: SparkSession, cpus: Int, sfDir: String)
      : Option[(Seq[(String, Seq[Double])],
        Option[(Double, Map[String, Double])], Int, Seq[String],
        String)] = {
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH32", "1") == "0") return None
    try {
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF32_DIR", "/tmp/graft_sf32")
      // inflate from the SAME fixture the main leg measures — a
      // hardcoded source would attach a bench32 object computed on
      // unrelated data to a JSON line whose "sf" names this one
      InflateFixtures.ensure(spark, sfDir, dir, 32, cpus)
      // warm best-of-3 by default — the SAME discipline as the headline
      // leg. A single cold sample on a shared microVM swung this leg's
      // ratio 2.85× → 6.30× across two rounds with ZERO source changes;
      // one-shot numbers are not evidence in either direction.
      val runs32 = sys.env.getOrElse("SPARK_GRAFT_BENCH32_RUNS", "3").toInt
      val (results, errors32) = timeQueriesRuns(spark, dir, runs32,
        headline)
      Some((results, duckdbTimesFor(dir, runs32, headline), runs32,
        errors32, dir))
    } catch {
      // Throwable, not NonFatal: the sf-dir results measured minutes
      // earlier print only after this OPTIONAL leg, so even a
      // memory-exhausted 600 MB materialization should degrade to
      // "no bench32 object" rather than lose the whole bench artifact
      // (best effort — a truly hosed JVM still dies)
      case e: Throwable =>
        System.err.println(s"[bench32] skipped: $e")
        None
    }
  }

  /** DuckDB side of the 32× ratio via tools/duck_bench.py (driver-side
    * python; the library itself never depends on it): (total, per-query
    * best times). None when the script/interpreter is unavailable. */
  private[graft] def duckdbTimesFor(dir: String, runs: Int,
                                    names: Seq[String])
      : Option[(Double, Map[String, Double])] =
    try {
      val script = Seq("tools/duck_bench.py", "/root/repo/tools/duck_bench.py")
        .map(new java.io.File(_)).find(_.exists())
        .getOrElse(return None)
      val oracleFile = java.io.File.createTempFile("graft_oracle32", ".json")
      oracleFile.deleteOnExit()
      val json = SparkEntry.oracleSql
        .filter { case (k, _) => names.contains(k) }
        .map { case (k, v) => JsonUtil.quote(k) + ": " + JsonUtil.quote(v) }
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(oracleFile.toPath, json)
      // stdout goes to a file, not a pipe: the driver then waits with a
      // TIMEOUT and reads afterwards — a blocking readAllBytes on a
      // wedged interpreter (FS stall, hung import) would hang the bench
      // forever with the already-measured main-leg numbers unprinted,
      // and a file sink cannot deadlock on a full pipe buffer
      val outFile = java.io.File.createTempFile("graft_duck32", ".out")
      outFile.deleteOnExit()
      val pb = new ProcessBuilder("python3", script.getAbsolutePath,
        dir, oracleFile.getAbsolutePath, runs.toString)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      pb.redirectOutput(ProcessBuilder.Redirect.to(outFile))
      val proc = pb.start()
      if (!proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)) {
        proc.destroyForcibly()
        System.err.println("[bench32] duck_bench timed out"); None
      } else if (proc.exitValue() != 0) {
        System.err.println(s"[bench32] duck_bench failed"); None
      } else {
        val out = java.nio.file.Files.readString(outFile.toPath)
        val perQ = """"(q[0-9][0-9a-z_]+)":\s*([0-9.eE+-]+)""".r
          .findAllMatchIn(out)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        """"value":\s*([0-9.eE+-]+)""".r.findFirstMatchIn(out)
          .map(m => (m.group(1).toDouble, perQ))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench32] duckdb leg skipped: $e")
        None
    }
}
