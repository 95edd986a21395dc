package graft.cli

import java.nio.file.{Files, Paths}
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Staging, Tables}
import graft.jobs.DailyEtlJob
import graft.ml.{ChronoSplit, FeatureEngineering, Predict, Train}
import graft.operators.{Enrichment, EventSeries, Writes}

/** CLI verbs mirroring the reference's cli.py (SURVEY §7.1):
  *
  *   backfill  destructive reload of the warehouse from an events dir (S12)
  *   run       incremental daily step: insert-ignore + enrichment delta (§3.1)
  *   status    row counts / span / per-key counts (A1-A3)
  *   ml-train  feature build, chrono split, RF fit, save + metadata (M11)
  *   ml-predict load model, next-day prediction per key, upsert (M10/S4)
  *
  * Warehouse layout: <warehouse>/{bars,enrichments,fact,predictions}
  * parquet dirs + models/rf. All verbs are re-runnable; `run` and
  * `ml-predict` are idempotent by the insert-ignore/upsert key algebra.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val verb = args.headOption.getOrElse("status")
    val opts = args.drop(1).sliding(2, 2)
      .collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val eventsDir = opts.getOrElse("events-dir", "/root/testdata/sf0.001")
    val warehouse = opts.getOrElse("warehouse", "/tmp/graft_warehouse")
    val spark = graft.Sessions.local(opts.getOrElse("cpus", "8").toInt)
    try runWithAlerts(spark, verb, eventsDir, warehouse, opts,
      new graft.alerts.WebhookSender.Http(),
      graft.alerts.Alerts.Config.fromEnv())
    finally spark.stop()
  }

  /** [[run]] wrapped in the reference's DAG alert callbacks (S13,
    * airflow/utils/alerts.py): failure fires the failure fan-out and
    * re-throws (the CLI still exits non-zero); success announces /
    * resolves. With no channel configured (the default) this is exactly
    * [[run]] — the reference's "webhook not set, skipping" branch. */
  def runWithAlerts(spark: SparkSession, verb: String, eventsDir: String,
                    warehouse: String, opts: Map[String, String],
                    sender: graft.alerts.WebhookSender,
                    cfg: graft.alerts.Alerts.Config): Unit = {
    import graft.alerts.Alerts
    val ctx = Alerts.RunContext(
      pipelineId = "graft-cli",
      taskId = verb,
      executionDate = java.time.Instant.now().toString,
      runId = java.util.UUID.randomUUID().toString,
      tryNumber = 1)
    try {
      run(spark, verb, eventsDir, warehouse, opts)
      if (!cfg.isEmpty) Alerts.notifySuccess(sender, cfg, ctx)
    } catch {
      case scala.util.control.NonFatal(e) =>
        if (!cfg.isEmpty)
          Alerts.notifyFailure(sender, cfg, ctx.copy(error = Some(e.toString)))
        throw e
    }
  }

  def run(spark: SparkSession, verb: String, eventsDir: String,
          warehouse: String, opts: Map[String, String]): Unit = {
    def path(t: String) = s"$warehouse/$t"
    // recover() first: a crashed swap leaves the live dir missing but a
    // complete copy on disk — falling back to `fallback` there would
    // silently restart the table from empty
    def readOr(t: String, fallback: => DataFrame): DataFrame =
      if (graft.operators.StagedSwap.recover(path(t)))
        Tables.parquet(spark, path(t))
      else fallback
    // Two-phase overwrite via StagedSwap: STAGE materializes a frame to
    // a __tmp dir (a real parquet write, so no plan re-reads the source
    // afterwards), SWAP retires the old dir with crash recovery. Verbs
    // stage every dependent output before swapping any input dir — a
    // lazy plan over dir A must never execute after A has been swapped
    // (cache() residency is not a correctness guarantee: eviction or
    // executor loss would recompute against deleted files).
    import graft.operators.StagedSwap
    def stage(df: DataFrame, t: String): Unit = StagedSwap.stage(df, path(t))
    def swap(t: String): Unit = StagedSwap.swap(path(t))
    def write(df: DataFrame, t: String): Unit = StagedSwap.write(df, path(t))

    verb match {
      case "backfill" =>
        val (state, fact) = DailyEtlJob.backfill(
          Tables.events(spark, eventsDir), Enrichment.DeterministicProvider)
        write(state.bars, "bars")
        write(state.enrichments, "enrichments")
        write(fact, "fact")
        // count the written files: counting state.* re-runs both plans
        def written(t: String) = Tables.parquet(spark, path(t)).count()
        println(s"[cli] backfill: bars=${written("bars")} " +
          s"enrichments=${written("enrichments")} fact rows written")

      case "run" =>
        lazy val empty = DailyEtlJob.emptyState(
          Tables.events(spark, eventsDir))
        val state = DailyEtlJob.State(readOr("bars", empty.bars),
          readOr("enrichments", empty.enrichments))
        val (next, fact) = DailyEtlJob.step(state,
          Tables.events(spark, eventsDir), Enrichment.DeterministicProvider)
        // stage ALL outputs (all plans read the pre-swap dirs), then swap
        stage(next.bars, "bars")
        stage(next.enrichments, "enrichments")
        stage(fact, "fact")
        Seq("bars", "enrichments", "fact").foreach(swap)
        println(
          s"[cli] run: bars=${Tables.parquet(spark, path("bars")).count()}")

      case "status" =>
        val bars = readOr("bars", spark.emptyDataFrame)
        if (bars.isEmpty) println("[cli] status: warehouse empty")
        else {
          val global = bars.agg(count(lit(1)).as("rows"),
            min(col("date")).as("from"), max(col("date")).as("to"),
            countDistinct(col("user_id")).as("keys")).head()
          println(s"[cli] status: $global")
          bars.groupBy(col("user_id")).count().orderBy(col("user_id"))
            .collect().foreach(r => println(s"[cli]   $r"))
        }

      case "ml-train" =>
        // --model rf (default) | gbt | xgboost — the reference's
        // rf/xgboost choice (cli.py --model-type); xgboost maps to the
        // one-vs-rest GBT (SURVEY §7.4). Unknown values fail loudly
        // instead of silently training the default.
        val modelDir = opts.getOrElse("model", "rf") match {
          case "xgboost" => "gbt"
          case m @ ("rf" | "gbt") => m
          case other =>
            // throw, don't print-and-return: a scripted caller needs a
            // non-zero exit, not a clean 0 with a stderr note
            throw new IllegalArgumentException(
              s"unknown --model '$other' (rf|gbt|xgboost)")
        }
        // validate flag combinations BEFORE any Spark work: feature
        // engineering + the chrono split run eager jobs, and throwing
        // after them wastes minutes of cluster time on an error that
        // was knowable from opts alone
        require(modelDir == "gbt" || !opts.contains("early-stop-tol"),
          "--early-stop-tol requires --model gbt|xgboost (random " +
            "forests have no boosting rounds to stop)")
        // parse the tol VALUE here too: a malformed '--early-stop-tol
        // 0.02%' must be a usage error now, not a NumberFormatException
        // after the eager feature/split jobs have already burned time
        val earlyStopTol = opts.get("early-stop-tol").map { v =>
          try v.toDouble catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"--early-stop-tol must be a number, got '$v'")
          }
        }
        // The split, the fit and the evaluation each run several jobs
        // over the labeled frame; staged, the ~40-window feature plan
        // executes once instead of once per consumer. OneVsRest caches
        // its lazy input, and a cached plan keeps its uncoalesced
        // shuffle partitions: that is the layout the boosted trees have
        // always trained on, so the gbt path stages it uncoalesced.
        val (modelType, res) = Staging.withLocalCheckpoint(
            features(spark, eventsDir, forPrediction = false),
            coalesce = modelDir != "gbt") { labeled =>
          val (train, valid, test) = ChronoSplit(labeled)
          modelDir match {
            case "gbt" =>
              // --early-stop-tol enables eval-set early stopping on the
              // chronological validation split (reference train.py:95-102)
              val validation = earlyStopTol.map(_ => valid)
              val tol = earlyStopTol.getOrElse(0.01)
              val (model, _) = Train.fitBoosted(train,
                maxIter = opts.getOrElse("trees", "200").toInt,
                validation = validation, validationTol = tol)
              model.write.overwrite().save(path("models/gbt"))
              ("gbt_one_vs_rest", Train.evaluateModel(model, test))
            case _ =>
              val (model, _) = Train.fit(train,
                numTrees = opts.getOrElse("trees", "200").toInt)
              model.write.overwrite().save(path("models/rf"))
              ("random_forest", Train.evaluate(model, test))
          }
        }
        val metricsJson = res.metrics.map { case (k, v) =>
          s""""$k": $v""" }.mkString("{", ", ", "}")
        // top-15 feature importances (reference train.py:146-154);
        // empty for the OVR ensemble, which exposes none
        val impJson = res.importances.take(15).map { case (k, v) =>
          s""""$k": $v""" }.mkString("{", ", ", "}")
        Files.createDirectories(Paths.get(path("models")))
        Files.writeString(Paths.get(path(s"models/${modelDir}_metadata.json")),
          s"""{"model_type": "$modelType", "metrics": $metricsJson,
             |"feature_importances": $impJson,
             |"features": ${FeatureEngineering.featureColumns.size}}
             |""".stripMargin)
        // the reference's `latest` symlink (train.py:169-219) as a
        // pointer file: which model dir the most recent train produced
        Files.writeString(Paths.get(path("models/latest")), modelDir)
        // run registry (reference mlflow_utils.py:32-241): every train
        // appends its metric set; ml-best-run searches it
        val now = new java.sql.Timestamp(System.currentTimeMillis())
        graft.ml.RunRegistry.append(spark, path("models/runs"),
          runId = s"${modelDir}_${now.getTime}", modelType = modelType,
          createdAt = now, metrics = res.metrics)
        println(s"[cli] ml-train: ${res.metrics}")

      case "ml-best-run" =>
        // reference mlflow_utils.py:175-198 search_runs(order_by=
        // [metric DESC], max_results=1): best run for --metric
        // (default accuracy), newest on ties
        val metric = opts.getOrElse("metric", "accuracy")
        // a missing registry (never trained) should read as a usage
        // error, not a raw path-not-found analysis exception
        require(Files.exists(Paths.get(path("models/runs"))),
          "no run registry yet — run ml-train first")
        val best = graft.ml.RunRegistry.bestRun(
          graft.ml.RunRegistry.runs(spark, path("models/runs")), metric)
          .collect()
        require(best.nonEmpty, s"no runs recorded for metric '$metric'")
        val r = best.head
        println(s"[cli] ml-best-run: metric=$metric run_id=${r.getString(0)} " +
          s"model_type=${r.getString(1)} value=${r.getDouble(3)}")

      case "ml-predict" =>
        // follow the `latest` pointer (falls back to rf); the GBT path
        // scores without probabilities (MLlib OneVsRest exposes none)
        val latestPtr = Paths.get(path("models/latest"))
        val latest = if (Files.exists(latestPtr))
          Files.readString(latestPtr).trim else "rf"
        val preds = latest match {
          case "gbt" =>
            val model = org.apache.spark.ml.classification
              .OneVsRestModel.load(path("models/gbt"))
            Predict.withoutProbabilities(model,
              features(spark, eventsDir, forPrediction = true),
              modelVersion = "gbt_v1")
          case _ =>
            val model =
              RandomForestClassificationModel.load(path("models/rf"))
            Predict(model,
              features(spark, eventsDir, forPrediction = true),
              modelVersion = "rf_v1")
        }
        val existing = readOr("predictions", preds.limit(0))
        write(Writes.upsert(existing, preds,
          Seq("user_id", "prediction_date", "model_version")),
          "predictions")
        // S9: the reference's predictions CSV export (predict.py:
        // 209-211 writes a header'd CSV of the run's predictions) —
        // `--format csv [--csv-out DIR]`. A per-run export, not a
        // table dump: the upserted parquet table stays the system of
        // record; the CSV is the hand-off artifact.
        if (opts.get("format").contains("csv")) {
          val out = opts.getOrElse("csv-out", path("predictions_csv"))
          preds.coalesce(1).write.mode("overwrite")
            .option("header", "true").csv(out)
          println(s"[cli] ml-predict: csv export at $out")
        }
        println(s"[cli] ml-predict: " +
          s"${Tables.parquet(spark, path("predictions")).count()} rows")

      case other =>
        // same contract as unknown --model: scripted callers need a
        // non-zero exit, not a clean 0 with a stderr note
        throw new IllegalArgumentException(s"unknown verb '$other' " +
          "(backfill|run|status|ml-train|ml-best-run|ml-predict)")
    }
  }

  private[graft] def features(spark: SparkSession, eventsDir: String,
                              forPrediction: Boolean): DataFrame = {
    val events = Tables.events(spark, eventsDir)
    FeatureEngineering(EventSeries.dailyBars(events),
      Some(EventSeries.dailySentiment(events)
        .select(col("user_id"), col("date"), col("sentiment"))),
      forPrediction = forPrediction)
  }
}
