package graft

import org.apache.spark.sql.functions._
import graft.ml.{ChronoSplit, FeatureEngineering, Predict, Train}
import graft.operators.EventSeries

/** ML pipeline invariants over the sf0.001 fixture (M1-M10). */
class MLSpec extends SparkSuite {
  import spark.implicits._

  private lazy val events = Tables.events(spark, "/root/testdata/sf0.001")
  private lazy val labeled = FeatureEngineering(
    EventSeries.dailyBars(events),
    Some(EventSeries.dailySentiment(events)
      .select(col("user_id"), col("date"), col("sentiment"))))

  test("feature frame carries the full ordered feature-column contract") {
    val cols = labeled.columns.toSet
    assert(FeatureEngineering.featureColumns.forall(cols.contains))
    assert(FeatureEngineering.featureColumns.size >= 25)
  }

  test("labels are exactly {0,1,2} and decode back to class names") {
    val labels = labeled.select("label").distinct().as[Double]
      .collect().toSet
    assert(labels.subsetOf(Set(0.0, 1.0, 2.0)))
    val decoded = labeled
      .select(FeatureEngineering.classOf(col("label")).as("c"),
        col("target_class"))
      .filter(col("c") =!= col("target_class")).count()
    assert(decoded == 0)
  }

  test("chronological split never leaks: max(train date) < min(test date)") {
    val (train, valid, test) = ChronoSplit(labeled)
    val maxTrain = train.agg(max("date")).as[java.sql.Date].head()
    val minVal = valid.agg(min("date")).as[java.sql.Date].head()
    val maxVal = valid.agg(max("date")).as[java.sql.Date].head()
    val minTest = test.agg(min("date")).as[java.sql.Date].head()
    assert(maxTrain.before(minVal) && maxVal.before(minTest))
    assert(train.count() > test.count())
  }

  test("chronological split rejects timestamp columns (unbounded " +
    "driver-side distinct list) with a clear error") {
    val ts = labeled.withColumn("date", col("date").cast("timestamp"))
    val e = intercept[IllegalArgumentException] { ChronoSplit(ts) }
    assert(e.getMessage.contains("to_date"))
  }

  test("balanced weights reproduce n/(k*count_c) per class") {
    val weighted = Train.withBalancedWeights(labeled)
    val n = labeled.count().toDouble
    val k = labeled.select("label").distinct().count().toDouble
    val check = weighted.groupBy("label")
      .agg(count(lit(1)).as("c"), first("weight").as("w"),
        countDistinct("weight").as("nw"))
      .as[(Double, Long, Double, Long)].collect()
    assert(check.forall(_._4 == 1)) // one weight per class
    check.foreach { case (_, c, w, _) =>
      assert(math.abs(w - n / (k * c)) < 1e-9)
    }
  }

  test("train + predict end-to-end: one prediction per key with a valid " +
    "class, confidence = max prob, next-trading-day stamp") {
    val (train, _, _) = ChronoSplit(labeled)
    val (model, _) = Train.fit(train, numTrees = 20)
    val preds = Predict(model,
      FeatureEngineering(EventSeries.dailyBars(events),
        forPrediction = true), "rf_test").cache()
    val nKeys = events.select("user_id").distinct().count()
    assert(preds.count() == nKeys)
    val bad = preds.filter(!col("predicted_class")
      .isin("low", "medium", "high")).count()
    assert(bad == 0)
    val probSum = preds.select((col("prob_low") + col("prob_medium") +
      col("prob_high")).as("s")).as[Double].collect()
    assert(probSum.forall(s => math.abs(s - 1.0) < 1e-2))
    val confOk = preds.filter(col("confidence") <
      greatest(col("prob_low"), col("prob_medium"), col("prob_high")))
      .count()
    assert(confOk == 0)
  }

  test("held-out evaluation produces the M7 metric set") {
    val (train, _, test) = ChronoSplit(labeled)
    val (model, _) = Train.fit(train, numTrees = 20)
    val res = Train.evaluate(model, test)
    assert(Set("accuracy", "f1", "weightedPrecision", "weightedRecall",
      "f1Macro", "recallMacro", "precisionMacro")
      .subsetOf(res.metrics.keySet))
    assert(res.metrics("accuracy") >= 0.0 &&
      res.metrics("accuracy") <= 1.0)
    assert(res.importances.map(_._2).sum > 0.99) // importances normalized
    // macro averages are means of per-class values, each in [0,1]
    Seq("f1Macro", "recallMacro", "precisionMacro").foreach { m =>
      assert(res.metrics(m) >= 0.0 && res.metrics(m) <= 1.0)
    }
  }

  test("macro metrics agree with a hand-computed confusion matrix") {
    // 10 pre-scored rows (prediction, label):
    //   (1,1)x3  (0,1)x3  (0,0)x2  (1,0)x2
    // class 0: tp=2 predicted=5 actual=4 -> P=2/5 R=2/4
    // class 1: tp=3 predicted=5 actual=6 -> P=3/5 R=3/6
    val rows = Seq((1.0, 1.0), (1.0, 1.0), (1.0, 1.0), (0.0, 1.0),
      (0.0, 0.0), (0.0, 0.0), (1.0, 0.0), (1.0, 0.0), (0.0, 1.0),
      (0.0, 1.0)).toDF("prediction", "label")
    val m = Train.metricsOf(rows)
    val (p0, r0) = (2.0 / 5, 2.0 / 4)
    val (p1, r1) = (3.0 / 5, 3.0 / 6)
    val f0 = 2 * p0 * r0 / (p0 + r0); val f1 = 2 * p1 * r1 / (p1 + r1)
    assert(math.abs(m("precisionMacro") - (p0 + p1) / 2) < 1e-12)
    assert(math.abs(m("recallMacro") - (r0 + r1) / 2) < 1e-12)
    assert(math.abs(m("f1Macro") - (f0 + f1) / 2) < 1e-12)
    assert(math.abs(m("accuracy") - 0.5) < 1e-12)
  }

  test("early stopping with an eval set halts boosting before maxIter " +
    "and the stopped ensemble still evaluates") {
    val (train, valid, test) = ChronoSplit(labeled)
    val (model, _) = Train.fitBoosted(train, maxIter = 40, maxDepth = 3,
      validation = Some(valid), validationTol = 0.03)
    val trees = model.models.map(
      _.asInstanceOf[org.apache.spark.ml.classification
        .GBTClassificationModel].getNumTrees)
    // at least one one-vs-rest member must stop early; none may exceed
    // the budget
    assert(trees.forall(_ <= 40), s"trees=$trees")
    assert(trees.exists(_ < 40),
      s"no member stopped before maxIter, trees=$trees")
    val res = Train.evaluateModel(model, test)
    assert(res.metrics("accuracy") > 0.2)
  }

  test("one-vs-rest GBT (the xgboost mapping) trains and evaluates") {
    val (train, _, test) = ChronoSplit(labeled)
    val (model, _) = Train.fitBoosted(train, maxIter = 5)
    val res = Train.evaluateModel(model, test)
    assert(res.metrics("accuracy") >= 0.0 && res.metrics("accuracy") <= 1.0)
    val scored = model.transform(Train.assembler.transform(test))
      .select(FeatureEngineering.classOf(col("prediction"))
          .as("predicted_class"),
        FeatureEngineering.classOf(col("label")).as("actual_class"))
    val confusion = graft.operators.AnalyticsViews.confusionMatrix(scored)
    assert(confusion.count() > 0)
    val classes = confusion.select("predicted_class").distinct()
      .as[String].collect().toSet
    assert(classes.subsetOf(Set("low", "medium", "high")))
  }
}
