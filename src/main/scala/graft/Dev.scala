package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.jobs.{IncrementalIngestJob, Ladder}
import graft.operators.SemDedup
import graft.streaming.StreamingCorpusIngest

/** The development entry point beside [[Bench]] and [[Verify]]: one
  * subcommand per measurement or inspection tool.
  *
  *   crossover          headline queries on an N× inflation, with the
  *                      DuckDB oracle replayed on the same files
  *   funnel-profile     per-stage cost of the ingest funnel's probe
  *   funnel-scale       the whole ingest ladder, probe vs rebuild
  *   stream-throughput  per-micro-batch latency of StreamingCorpusIngest
  *   scale              [[ScaleCheck]]'s timed ops on N× inflated fixtures
  *   inflate [outDir]   materialize an N× inflation (InflateFixtures)
  *   explain <query>..  formatted physical plans of catalog queries
  *   smoke              SparkEntry.entry's rows and row count
  *
  * Subcommands read the SPARK_GRAFT_* variables Bench reads (SF_DIR,
  * CPUS, SCALE, BENCH_RUNS, ...) with their own defaults.
  *
  *   SPARK_GRAFT_SCALE=128 sbt 'runMain graft.Dev crossover'
  */
object Dev {
  val subcommands: Seq[String] = Seq("crossover", "funnel-profile",
    "funnel-scale", "stream-throughput", "scale", "inflate", "explain",
    "smoke")

  def main(args: Array[String]): Unit =
    args.headOption.getOrElse("") match {
      case "crossover" => crossover()
      case "funnel-profile" => funnelProfile()
      case "funnel-scale" => funnelScale()
      case "stream-throughput" => streamThroughput()
      case "scale" =>
        val cpus = cpusOr(32)
        withSession(cpus, parallelismFirstOff) { spark =>
          ScaleCheck.run(spark, sfDirOr(Sf01), scaleOr(32), cpus)
        }
      case "inflate" => inflate(args.drop(1))
      case "explain" => explain(args.drop(1))
      case "smoke" => smoke()
      case other => throw new IllegalArgumentException(
        s"unknown subcommand '$other'; usage: graft.Dev " +
          subcommands.mkString("<", "|", ">") + " [args]")
    }

  private val Sf01 = "/root/testdata/sf0.1"
  private val parallelismFirstOff =
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false"

  private def sfDirOr(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)
  private def cpusOr(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
  private def scaleOr(default: Int): Int =
    sys.env.get("SPARK_GRAFT_SCALE").map(_.toInt).getOrElse(default)
  private def runsOr(default: Int): Int =
    sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(default)

  private def withSession(cpus: Int, extra: (String, String)*)
                         (f: SparkSession => Unit): Unit = {
    val spark = Sessions.local(cpus, extra: _*)
    try f(spark) finally spark.stop()
  }

  /** One timed `[scale]` row: the wall time of `f` and its throughput
    * over `rows` input rows. */
  private[graft] def time[T](name: String, rows: Long)(f: => T): Unit = {
    val t0 = System.nanoTime()
    f
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"[scale] $name%-28s ${rows}%12d rows  $dt%7.2f s  " +
      f"${rows / dt / 1e6}%6.2f M rows/s")
  }

  /** The >2× set from BENCH_r07 (ratio, descending). */
  private val crossoverQueries: Seq[String] = Seq(
    "q31_dedup_exact", "q35_knn", "q06_join3", "q02_group_agg",
    "q01_global_agg", "q44_class_metrics", "q41_accuracy_by_user",
    "q03_supplier_stats", "q28_token_stats", "q07_anti_join")

  /** The small-query CROSSOVER demonstration (round-7 verdict item 5).
    * The ten headline queries whose sf0.1/32× ratios sat above the 2×
    * per-query bar are sub-second queries dominated by Spark's fixed
    * per-job cost against a sub-0.3 s DuckDB time. This times them
    * (the warm best-of-N discipline of [[Bench]]) on a larger
    * key-shifted inflation (default 128×) with the DuckDB oracle
    * replayed on the same files, and prints one JSON line of
    * per-query ratios, committed as CROSSOVER_r{N}.json.
    * SPARK_GRAFT_QUERIES (comma-separated) overrides the query set for
    * ad-hoc scale timings of any SparkEntry query. */
  private def crossover(): Unit = {
    val sfDir = sfDirOr(Sf01)
    val mult = scaleOr(128)
    val cpus = cpusOr(32)
    val runs = runsOr(3)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_sf$mult")
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(crossoverQueries)
    withSession(cpus) { spark =>
      InflateFixtures.ensure(spark, sfDir, dir, mult, cpus)
      val (perRun, errors) = Bench.timeQueriesRuns(spark, dir, runs, names)
      val results = perRun.map { case (k, ts) => k -> ts.min }
      val duck = Bench.duckdbTimesFor(dir, runs, names)
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val duckPart = duck.map { case (_, perQ) =>
        val dq = perQ.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")
        val ratios = results.flatMap { case (k, v) =>
          perQ.get(k).filter(_ > 0).map(d => "\"" + k + "\":" +
            f"${v / d}%.2f")
        }.mkString("{", ",", "}")
        s""","duckdb_queries":$dq,"ratios":$ratios"""
      }.getOrElse("")
      // per-run samples, same rationale as Bench's runs_detail: a min
      // cannot reject a contended window; the raw samples can
      val runsJson = perRun.map { case (k, ts) =>
        "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      }.mkString(""","runs_detail":{""", ",", "}")
      println(s"""{"metric":"crossover","mult":$mult,"runs":$runs,"spark_sec":${results.map(_._2).sum},"queries":$qs$runsJson$duckPart${Bench.errJson(errors)},"sf":"$sfDir"}""")
    }
  }

  /** The ingest funnel's layout at scale, shared by `funnel-profile`
    * and `funnel-scale`. It mirrors the q356/q361/q362 gate split: the
    * persisted state is the INFLATED corpus side (doc_id % 5 ≠ 0, text
    * prepped the way a prior rebuild would have left it), the arriving
    * batch is the raw-SF % 5 = 0 slice (cached). */
  private final class Funnel(spark: SparkSession, sfDir: String,
                             mult: Int) {
    val cfg = IncrementalIngestJob.Config(semDedupTau = 0.4)
    private val rawDocs = Tables.documents(spark, sfDir)
    private val rawEmb = Tables.embeddings(spark, sfDir)
    val batch: DataFrame = rawDocs.filter(col("doc_id") % 5 === 0).cache()
    val nBatch: Long = batch.count()
    val evalSet: DataFrame = rawDocs.filter(col("doc_id") < 50)
    val batchEmb: DataFrame = rawEmb.filter(col("vec_id") % 5 === 0)
    /** The inflated corpus side before text prep. */
    val corpusDocs: DataFrame = InflateFixtures.inflate(spark,
      rawDocs.filter(col("doc_id") % 5 =!= 0), "documents", mult)
    val stateDocs: DataFrame = Ladder.prepText(corpusDocs)
    val stateEmb: DataFrame = InflateFixtures.inflate(spark,
      rawEmb.filter(col("vec_id") % 5 =!= 0), "embeddings", mult)
    val centroids: Array[(Long, Array[Double])] =
      SemDedup.seedCentroids(stateEmb, 64)
    val keptEmb: DataFrame = SemDedup.assign(stateEmb, centroids)
      .select(col("vec_id"), col("vec").as("embedding"), col("cluster"))

    /** Build the state side tables and persist them under `dir`. */
    def saveState(dir: String): Unit =
      IncrementalIngestJob.saveState(
        IncrementalIngestJob.deriveState(stateDocs, cfg, simhash = true)
          .copy(centroids = Some(centroids), keptEmbeddings = Some(keptEmb)),
        dir)
  }

  /** Attributes the funnel probe's FIXED per-batch cost
    * (SCALECHECK_funnel_r12: a flat ~25-30 s across 8k-2.05M state
    * docs) to its stages, via the [[IncrementalIngestJob.stageTimer]]
    * seam. Same layout as `funnel-scale`'s probe leg, default mult 2
    * (the smallest curve point — at that size the cost is ~all fixed),
    * SPARK_GRAFT_BENCH_RUNS probe runs (default 2). */
  private def funnelProfile(): Unit = {
    val mult = scaleOr(2)
    withSession(cpusOr(32), parallelismFirstOff) { spark =>
      val f = new Funnel(spark, sfDirOr(Sf01), mult)
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_funnel_profile").toString
      f.saveState(stateDir)
      val state = IncrementalIngestJob.loadState(spark, stateDir)
      (1 to runsOr(2)).foreach { r =>
        println(s"[profile] ---- probe run $r (mult=$mult) ----")
        // count = the stage's cache-materialization action; gap = the
        // EAGER work between stage events (localCheckpoints, bloom
        // builds, the label-propagation loops) — the hidden share
        var last = System.nanoTime()
        IncrementalIngestJob.stageTimer = Some { (name, sec) =>
          val now = System.nanoTime()
          val gap = (now - last) / 1e9 - sec
          last = now
          println(f"[profile] stage $name%-18s count $sec%7.2f s   " +
            f"eager-gap $gap%7.2f s")
        }
        val t0 = System.nanoTime()
        val (surv, _, _) = IncrementalIngestJob.run(state, f.batch,
          f.evalSet, f.cfg, Some(f.batchEmb))
        surv.write.format("noop").mode("overwrite").save()
        surv.unpersist()
        println(f"[profile] TOTAL probe ${(System.nanoTime() - t0) / 1e9}%7.2f s")
        IncrementalIngestJob.stageTimer = None
      }
      f.batch.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(stateDir))
    }
  }

  /** END-TO-END wall time for the COMPOSED IncrementalIngestJob ladder
    * with ALL stages live (quality → decontaminate → exact → MinHash →
    * SimHash → semantic), probe-vs-rebuild — the composition's own
    * scale row, where `scale` carries only the per-stage contrast rows
    * (incremental_lsh_dedup, incremental_simhash_dedup,
    * incremental_semdedup vs their rebuild twins). The probe leg runs
    * the ladder against the [[Funnel]] state (every stage batch-sized
    * work against scanned-once side tables); the rebuild leg runs the
    * SAME ladder with EMPTY state over state∪batch — what a pipeline
    * without incremental maintenance must do per arrival. */
  private def funnelScale(): Unit =
    withSession(cpusOr(32), parallelismFirstOff) { spark =>
      import spark.implicits._
      val f = new Funnel(spark, sfDirOr(Sf01), scaleOr(32))
      val nState = f.stateDocs.count()
      // PERSIST the side tables (saveState) and probe the LOADED state
      // — the production cost model (the streaming wrapper persists
      // per-batch snapshots; a probe scans narrow parquet side tables,
      // it never recomputes the corpus's prep/hash chain). The save is
      // its own timed row: the one-time corpus-sized cost the probe
      // amortizes.
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_funnel_state").toString
      time("funnel_state_build_save", nState) { f.saveState(stateDir) }
      val state = IncrementalIngestJob.loadState(spark, stateDir)

      time("funnel_probe_all_stages", nState) {
        val (surv, _, ledger) = IncrementalIngestJob.run(state, f.batch,
          f.evalSet, f.cfg, Some(f.batchEmb))
        surv.write.format("noop").mode("overwrite").save()
        surv.unpersist()
        println(s"[scale]   probe ledger: ${ledger.mkString(" -> ")}")
      }

      // the equivalent rebuild: EMPTY state, the whole state∪batch
      // corpus as one arrival — run()'s within-batch paths (fingerprint
      // window, LSH groups, hamming groups, batch domination) do
      // corpus-sized work instead of batch-sized. Same config, same
      // stages live.
      val emptyState = IncrementalIngestJob.deriveState(
          Seq.empty[(Long, String)].toDF("doc_id", "text"), f.cfg,
          simhash = true)
        .copy(centroids = Some(f.centroids),
          keptEmbeddings = Some(f.keptEmb.limit(0)))
      val docCols = Seq("doc_id", "text", "lang", "source").map(col)
      val allDocs = f.corpusDocs.select(docCols: _*)
        .unionByName(f.batch.select(docCols: _*))
      val allEmb = f.stateEmb.unionByName(f.batchEmb)
      time("funnel_rebuild_all_stages", nState + f.nBatch) {
        val (surv, _, ledger) = IncrementalIngestJob.run(emptyState,
          allDocs, f.evalSet, f.cfg, Some(allEmb))
        surv.write.format("noop").mode("overwrite").save()
        surv.unpersist()
        println(s"[scale]   rebuild ledger: ${ledger.mkString(" -> ")}")
      }

      f.batch.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(stateDir))
    }

  /** Per-micro-batch latency + end-to-end throughput for
    * [[StreamingCorpusIngest]] — the streaming framing of the funnel
    * whose batch-job curve lives in SCALECHECK_funnel_r12.json. Splits
    * the SF's documents table into SPARK_GRAFT_BATCHES (default 8) drop
    * files, ingests them availableNow at one file per trigger (all
    * stages live: SimHash on), and reports each batch's
    * triggerExecution from the engine's own progress events plus the
    * wall-clock total.
    *
    * What to expect (r13, delta snapshots): per-batch time = the
    * funnel's fixed per-batch cost plus an O(batch) delta write — flat
    * across batches except the periodic compaction batch, which also
    * writes the full folded state. (Pre-r13, every batch rewrote the
    * FULL accumulated state and later batches paid a growing write
    * share: 8-11 s/batch at sf0.1×8.) */
  private def streamThroughput(): Unit = {
    val sfDir = sfDirOr(Sf01)
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "8").toInt
    withSession(cpusOr(32)) { spark =>
      val work = java.nio.file.Files
        .createTempDirectory("graft_stream_tp").toString
      val docs = Tables.documents(spark, sfDir)
      val nDocs = docs.count()
      // one drop file per micro-batch, round-robin by doc_id so every
      // batch carries a comparable slice
      (0 until nBatches).foreach { b =>
        docs.filter(col("doc_id") % nBatches === b)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$work/source/drop_$b")
      }
      // flatten: the file stream watches one dir of parquet files
      val src = s"$work/src_flat"
      new java.io.File(src).mkdirs()
      var i = 0
      (0 until nBatches).foreach { b =>
        val dir = new java.io.File(s"$work/source/drop_$b")
        dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(s"$src/part_$i.parquet"))
          i += 1
        }
      }
      val evalSet = docs.filter(col("doc_id") < 50)
      val cfg = IncrementalIngestJob.Config()

      val batchSecs = scala.collection.mutable.ListBuffer.empty[Double]
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val ms = Option(e.progress.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(0L)
          if (e.progress.numInputRows > 0) {
            batchSecs += ms / 1000.0
            println(f"[stream] batch ${e.progress.batchId}%2d  " +
              f"${e.progress.numInputRows}%6d docs in  ${ms / 1000.0}%6.2f s")
          }
        }
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })

      val t0 = System.nanoTime()
      val q = StreamingCorpusIngest.ingest(spark, src,
        s"$work/target", s"$work/state", s"$work/ckpt", evalSet, cfg,
        maxFilesPerTrigger = Some(1), withSimhash = true)
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async — drain before reporting
      Thread.sleep(2000)
      val kept = StreamingCorpusIngest.readCorpus(spark, s"$work/target")
        .count()
      println(f"[stream] TOTAL $nDocs docs / $nBatches batches in " +
        f"$wall%7.2f s = ${nDocs / wall}%6.1f docs/s ingested " +
        f"($kept survivors); per-batch " +
        batchSecs.map(s => f"$s%.1f").mkString("[", ", ", "] s"))

      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    }
  }

  /** Materialize an N× inflation of SPARK_GRAFT_SF_DIR under `outDir`
    * (default /tmp/graft_sf32, 32×). */
  private def inflate(args: Seq[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_sf32")
    val cpus = cpusOr(32)
    withSession(cpus) { spark =>
      InflateFixtures.materialize(spark, sfDirOr(Sf01), outDir,
        scaleOr(32), cpus)
    }
  }

  /** Print the formatted physical plan of each named catalog query
    * (on SPARK_GRAFT_SF_DIR, default sf0.01). */
  private def explain(names: Seq[String]): Unit = {
    val sfDir = sfDirOr("/root/testdata/sf0.01")
    withSession(4) { spark =>
      spark.sparkContext.setLogLevel("ERROR")
      names.foreach { name =>
        println(s"===== $name =====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
    }
  }

  /** Smoke of the entry-point contract: runs SparkEntry.entry (the
    * flagship fact query at sf0.001) and prints its first rows and its
    * row count. */
  private def smoke(): Unit =
    withSession(8) { spark =>
      val df = SparkEntry.entry(spark)
      df.show(8, truncate = false)
      println(s"[smoke] entry rows = ${df.count()}")
    }
}
