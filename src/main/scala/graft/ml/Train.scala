package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.{GBTClassifier, OneVsRest, OneVsRestModel, RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Volatility-class trainer (reference: ml/train.py:52-167).
  *
  * The reference offers two models: XGBoost (200 rounds, depth 6, lr 0.1,
  * multi:softmax — train.py:52-61) and sklearn RandomForest (200 trees,
  * depth 10, minInstancesPerNode 4 — train.py:62-70). Vanilla MLlib has
  * no XGBoost, so:
  *   - `fit`        → RandomForest, the bit-for-bit config of the
  *                    reference's own M4 alternative; the parity model.
  *   - `fitBoosted` → the "xgboost" CLI choice mapped to gradient-boosted
  *                    trees: MLlib GBT is binary-only, so multiclass is
  *                    one-vs-rest over GBTClassifier with the reference's
  *                    boosting config (SURVEY §7.4 deviation note).
  * Balanced sample weights reproduce sklearn's
  * compute_sample_weight('balanced') (train.py:89-91) from one collected
  * per-class count (k ≤ 3 rows).
  */
object Train {

  case class Result(metrics: Map[String, Double],
                    importances: Seq[(String, Double)])

  def assembler: VectorAssembler = new VectorAssembler()
    .setInputCols(FeatureEngineering.featureColumns.toArray)
    .setOutputCol("features")
    .setHandleInvalid("skip")

  /** n_samples / (n_classes * count_c) per class (A19/M5). One job
    * collects the ≤k per-class counts; the weights enter the plan as a
    * label → weight map literal, each `total / (k * n_c)` in doubles. */
  def withBalancedWeights(df: DataFrame): DataFrame = {
    val counts = df.groupBy(col("label")).count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1))
    val total = counts.map(_._2).sum.toDouble
    val k = counts.length.toDouble
    val weights = counts.map { case (label, n) => label -> total / (k * n) }
    df.withColumn("weight", element_at(typedLit(weights.toMap), col("label")))
  }

  def fit(train: DataFrame, numTrees: Int = 200, maxDepth: Int = 10,
          seed: Long = 42L): (RandomForestClassificationModel, DataFrame) = {
    val weighted = withBalancedWeights(train)
    val assembled = assembler.transform(weighted)
    val rf = new RandomForestClassifier()
      .setNumTrees(numTrees)
      .setMaxDepth(maxDepth)
      .setMinInstancesPerNode(4)
      .setSeed(seed)
      .setLabelCol("label")
      .setFeaturesCol("features")
      .setWeightCol("weight")
    (rf.fit(assembled), assembled)
  }

  /** The reference's "xgboost" model choice (train.py:52-61) on MLlib:
    * one-vs-rest gradient-boosted trees, 200 rounds, depth 6, step 0.1.
    * OneVsRestModel emits predictions only (no calibrated probability
    * vector) — confidence-bearing inference stays on the RF path.
    *
    * `validation` enables EARLY STOPPING with an eval set (reference
    * train.py:95-102, xgboost `early_stopping_rounds` + `eval_set`):
    * the validation rows ride along flagged by an indicator column and
    * boosting stops once the improvement in validation error drops
    * below `validationTol` — each one-vs-rest member stops at its own
    * best round. Validation rows get weight 1.0 (they steer stopping,
    * not the gradient); training rows keep balanced weights. With
    * `validation = None` this is the reference's plain-fit fallback
    * (train.py:103-104). */
  def fitBoosted(train: DataFrame, maxIter: Int = 200, maxDepth: Int = 6,
                 stepSize: Double = 0.1, seed: Long = 42L,
                 validation: Option[DataFrame] = None,
                 validationTol: Double = 0.01): (OneVsRestModel, DataFrame) = {
    val weighted = withBalancedWeights(train)
      .withColumn("is_val", lit(false))
    val data = validation match {
      case Some(v) => weighted.unionByName(
        v.withColumn("weight", lit(1.0)).withColumn("is_val", lit(true)),
        allowMissingColumns = false)
      case None => weighted
    }
    val assembled = assembler.transform(data)
    val gbt = new GBTClassifier()
      .setMaxIter(maxIter)
      .setMaxDepth(maxDepth)
      .setStepSize(stepSize)
      .setSeed(seed)
      .setLabelCol("label")
      .setFeaturesCol("features")
      .setWeightCol("weight")
    // validationTol has no Scala setter on GBTClassifier (the param is
    // inherited from GBTParams) — set it through a param-map copy
    val gbtTuned = validation.map { _ =>
      gbt.setValidationIndicatorCol("is_val")
      gbt.copy(org.apache.spark.ml.param.ParamMap(
        gbt.validationTol -> validationTol))
        .asInstanceOf[GBTClassifier]
    }.getOrElse(gbt)
    val ovr = new OneVsRest()
      .setClassifier(gbtTuned)
      .setLabelCol("label")
      .setFeaturesCol("features")
      .setWeightCol("weight")
    (ovr.fit(assembled), assembled)
  }

  /** M7 metric set for the RF parity model, feature importances from the
    * fitted ensemble (M8). */
  def evaluate(model: RandomForestClassificationModel,
               test: DataFrame): Result =
    evaluateModel(model, test,
      FeatureEngineering.featureColumns
        .zip(model.featureImportances.toArray)
        .sortBy(-_._2))

  /** M7 metrics for any fitted classifier (RF or the OneVsRest GBT):
    * accuracy, weighted P/R/F1 from the evaluator, plus the macro
    * averages the reference reports (train.py:123-139: f1_macro,
    * recall_macro) derived exactly from the collected confusion counts
    * (k² rows — driver-side arithmetic over a tiny frame, the
    * per-(label) work stays distributed). */
  def evaluateModel(model: Transformer, test: DataFrame,
                    importances: Seq[(String, Double)] = Seq.empty): Result = {
    val predictions = model.transform(assembler.transform(test)).cache()
    val metrics = metricsOf(predictions)
    predictions.unpersist()
    Result(metrics, importances)
  }

  /** The metric map for a frame already carrying (prediction, label):
    * evaluator-derived accuracy + weighted P/R/F1 from one
    * `MulticlassMetrics` (the values `evaluate` returns per metric
    * name), and exact macro averages from the collected confusion
    * counts (k² rows of driver-side arithmetic; the per-label counting
    * stays distributed). */
  def metricsOf(predictions: DataFrame): Map[String, Double] = {
    val m = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .getMetrics(predictions)
    val weighted = Map("accuracy" -> m.accuracy,
      "f1" -> m.weightedFMeasure,
      "weightedPrecision" -> m.weightedPrecision,
      "weightedRecall" -> m.weightedRecall)
    val counts = predictions
      .groupBy(col("prediction"), col("label"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    val labels = counts.flatMap(c => Seq(c._1, c._2)).distinct
    val perClass = labels.map { c =>
      val tp = counts.collect { case (p, a, n) if p == c && a == c => n }.sum
      val predicted = counts.collect { case (p, _, n) if p == c => n }.sum
      val actual = counts.collect { case (_, a, n) if a == c => n }.sum
      val precision = if (predicted == 0) 0.0 else tp.toDouble / predicted
      val recall = if (actual == 0) 0.0 else tp.toDouble / actual
      val f1 = if (precision + recall == 0) 0.0
               else 2 * precision * recall / (precision + recall)
      (precision, recall, f1)
    }
    val k = math.max(perClass.length, 1)
    weighted ++ Map(
      "precisionMacro" -> perClass.map(_._1).sum / k,
      "recallMacro" -> perClass.map(_._2).sum / k,
      "f1Macro" -> perClass.map(_._3).sum / k)
  }
}
