package graft

import java.nio.file.Files
import graft.cli.Main

/** End-to-end CLI verb flow on a temp warehouse (reference cli.py verbs:
  * backfill → status → run (idempotent) → ml-train → ml-predict). */
class CliSpec extends SparkSuite {

  test("backfill → run → ml-train → ml-predict round-trips through the " +
    "warehouse with idempotent re-runs") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val src = "/root/testdata/sf0.001"
    val opts = Map("trees" -> "20")

    Main.run(spark, "backfill", src, wh, opts)
    val bars1 = spark.read.parquet(s"$wh/bars").count()
    assert(bars1 > 0)
    assert(spark.read.parquet(s"$wh/fact").count() == bars1)

    // incremental run over the same events must not change the warehouse
    Main.run(spark, "run", src, wh, opts)
    assert(spark.read.parquet(s"$wh/bars").count() == bars1)

    Main.run(spark, "status", src, wh, opts)

    Main.run(spark, "ml-train", src, wh, opts)
    assert(Files.exists(java.nio.file.Paths.get(s"$wh/models/rf")))
    val meta = Files.readString(
      java.nio.file.Paths.get(s"$wh/models/rf_metadata.json"))
    assert(meta.contains("random_forest") && meta.contains("accuracy"))
    assert(meta.contains("f1Macro"))
    // the reference's `latest` pointer (train.py:169-219)
    assert(Files.readString(
      java.nio.file.Paths.get(s"$wh/models/latest")) == "rf")

    Main.run(spark, "ml-predict", src, wh, opts)
    val preds = spark.read.parquet(s"$wh/predictions")
    val nKeys = Tables.events(spark, src)
      .select("user_id").distinct().count()
    assert(preds.count() == nKeys)

    // upsert keyed (user, prediction_date, model_version): re-predicting
    // must not grow the table
    Main.run(spark, "ml-predict", src, wh, opts)
    assert(spark.read.parquet(s"$wh/predictions").count() == nKeys)

    // S9: --format csv writes a header'd CSV of the run's predictions
    // (reference predict.py:209-211) alongside the parquet upsert
    Main.run(spark, "ml-predict", src, wh,
      opts ++ Map("format" -> "csv"))
    val csv = spark.read.option("header", "true")
      .csv(s"$wh/predictions_csv")
    assert(csv.count() == nKeys)
    assert(csv.columns.toSet.subsetOf(preds.columns.toSet) &&
      csv.columns.contains("predicted_class"))
    assert(spark.read.parquet(s"$wh/predictions").count() == nKeys)

    // the train appended to the run registry; a second train makes the
    // search meaningful and ml-best-run resolves without error
    Main.run(spark, "ml-train", src, wh, opts)
    val runs = graft.ml.RunRegistry.runs(spark, s"$wh/models/runs")
    import org.apache.spark.sql.functions.col
    assert(runs.select("run_id").distinct().count() == 2)
    assert(runs.filter(col("metric") === "accuracy").count() == 2)
    assert(graft.ml.RunRegistry.bestRun(runs, "accuracy").count() == 1)
    Main.run(spark, "ml-best-run", src, wh, Map.empty)
    intercept[IllegalArgumentException] {
      Main.run(spark, "ml-best-run", src, wh, Map("metric" -> "nope"))
    }
  }

  test("ml-train --model gbt trains the one-vs-rest boosted ensemble, " +
    "records the latest pointer, and ml-predict follows it") {
    val wh = Files.createTempDirectory("graft_wh_gbt").toString
    val src = "/root/testdata/sf0.001"
    Main.run(spark, "ml-train", src, wh,
      Map("model" -> "gbt", "trees" -> "3"))
    assert(Files.exists(java.nio.file.Paths.get(s"$wh/models/gbt")))
    val meta = Files.readString(
      java.nio.file.Paths.get(s"$wh/models/gbt_metadata.json"))
    assert(meta.contains("gbt_one_vs_rest") && meta.contains("accuracy"))
    assert(Files.readString(
      java.nio.file.Paths.get(s"$wh/models/latest")) == "gbt")
    // a gbt-only warehouse must predict via the pointer (no models/rf);
    // the OVR path emits null probabilities by contract
    Main.run(spark, "ml-predict", src, wh, Map.empty)
    val preds = spark.read.parquet(s"$wh/predictions")
    assert(preds.count() > 0)
    import org.apache.spark.sql.functions.col
    assert(preds.filter(col("model_version") === "gbt_v1").count() ==
      preds.count())
    assert(preds.filter(col("confidence").isNotNull).count() == 0)
    assert(preds.filter(!col("predicted_class")
      .isin("low", "medium", "high")).count() == 0)
  }

  test("ml-train rejects unknown --model values without training") {
    val wh = Files.createTempDirectory("graft_wh_bad").toString
    intercept[IllegalArgumentException] {
      Main.run(spark, "ml-train", "/root/testdata/sf0.001", wh,
        Map("model" -> "resnet"))
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/models")))
  }

  test("unknown verbs and rf-incompatible early stopping fail loudly " +
    "(non-zero exit for scripted callers)") {
    val wh = Files.createTempDirectory("graft_wh_verb").toString
    intercept[IllegalArgumentException] {
      Main.run(spark, "ml-bestrun", "/root/testdata/sf0.001", wh, Map.empty)
    }
    intercept[IllegalArgumentException] {
      Main.run(spark, "ml-train", "/root/testdata/sf0.001", wh,
        Map("early-stop-tol" -> "0.02")) // rf default: no boosting rounds
    }
    intercept[IllegalArgumentException] { // best-run before any train
      Main.run(spark, "ml-best-run", "/root/testdata/sf0.001", wh,
        Map.empty)
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/models")))
  }

  test("the staged feature frame trains and scores exactly like the " +
    "lazy one: same metric map, same Predict rows (rf and gbt, AQE on)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.ml.{ChronoSplit, Predict, Train}
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val src = "/root/testdata/sf0.001"
    val scoring = Main.features(spark, src, forPrediction = true)
    def labeled = Main.features(spark, src, forPrediction = false)
    def rows(preds: DataFrame) = preds.orderBy(col("user_id")).collect().toSeq
    def rf(labeled: DataFrame) = {
      val (train, _, test) = ChronoSplit(labeled)
      val (model, _) = Train.fit(train, numTrees = 20)
      (Train.evaluate(model, test).metrics, rows(Predict(model, scoring, "rf")))
    }
    def gbt(labeled: DataFrame) = {
      val (train, _, test) = ChronoSplit(labeled)
      val (model, _) = Train.fitBoosted(train, maxIter = 3)
      (Train.evaluateModel(model, test).metrics,
        rows(Predict.withoutProbabilities(model, scoring, "gbt")))
    }
    assert(Staging.withLocalCheckpoint(labeled)(rf) == rf(labeled))
    assert(Staging.withLocalCheckpoint(labeled, coalesce = false)(gbt) ==
      gbt(labeled))
  }

  test("ml-train executes the feature plan (its window chain) exactly " +
    "once and leaves no staged blocks or session settings behind") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    def windowed(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => windowed(a.executedPlan)
      case q: QueryStageExec => windowed(q.plan)
      case _: WindowExec => true
      case _ => (p.children ++ p.subqueries).exists(windowed)
    }
    Seq("rf", "gbt").foreach { model =>
      val wh = Files.createTempDirectory(s"graft_wh_once_$model").toString
      val executions = new AtomicInteger()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit =
          if (windowed(qe.executedPlan)) executions.incrementAndGet()
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      }
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val coalescing = spark.conf.getOption(
        "spark.sql.adaptive.coalescePartitions.enabled")
      spark.listenerManager.register(listener)
      try {
        Main.run(spark, "ml-train", "/root/testdata/sf0.001", wh,
          Map("model" -> model, "trees" -> "2"))
        org.apache.spark.sql.graftbridge.ListenerDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      assert(executions.get == 1, s"--model $model")
      assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted)
        .isEmpty, s"--model $model")
      assert(spark.conf.getOption(
        "spark.sql.adaptive.coalescePartitions.enabled") == coalescing)
    }
  }

  test("the row counts backfill, run and ml-predict log equal " +
    "read-back counts of what they wrote") {
    val wh = Files.createTempDirectory("graft_wh_counts").toString
    val src = "/root/testdata/sf0.001"
    def logged(verb: String, opts: Map[String, String] = Map.empty) = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(Main.run(spark, verb, src, wh, opts))
      out.toString("UTF-8").linesIterator.toSeq
    }
    def written(t: String) = spark.read.parquet(s"$wh/$t").count()

    val backfill = logged("backfill")
    assert(backfill.contains(s"[cli] backfill: bars=${written("bars")} " +
      s"enrichments=${written("enrichments")} fact rows written"), backfill)
    val run = logged("run")
    assert(run.contains(s"[cli] run: bars=${written("bars")}"), run)
    logged("ml-train", Map("trees" -> "2"))
    // the first predict inserts, the second upserts over its own rows
    Seq.fill(2)(logged("ml-predict")).foreach { predict =>
      assert(predict.contains(
        s"[cli] ml-predict: ${written("predictions")} rows"), predict)
    }
  }

  test("csv export sink round-trips predictions (reference predict.py:209)") {
    val wh = Files.createTempDirectory("graft_csv").toString
    import spark.implicits._
    val df = Seq((1L, "low", 0.9), (2L, "high", 0.7))
      .toDF("user_id", "predicted_class", "confidence")
    df.write.option("header", "true").csv(s"$wh/preds_csv")
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$wh/preds_csv")
    assert(back.count() == 2)
    assert(back.columns.toSeq ==
      Seq("user_id", "predicted_class", "confidence"))
  }
}
