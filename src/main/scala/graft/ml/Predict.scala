package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Indicators, WindowFns}

/** Next-day inference (reference: ml/predict.py:83-157).
  *
  * Takes the latest row per key (A16, single hash-agg), scores it,
  * decodes the class label, derives confidence = max class probability
  * (M9, via vector_to_array + array_max — no UDF), and stamps the next
  * trading day (F-NBD). The per-class probabilities are exposed like
  * predict.py's prob_low/medium/high columns. */
object Predict {

  def apply(model: RandomForestClassificationModel, features: DataFrame,
            modelVersion: String): DataFrame =
    score(model, features, modelVersion,
      Some(vector_to_array(col("probability"))))

  /** Same output contract for classifiers that expose no calibrated
    * probability vector (the one-vs-rest GBT mapping of the reference's
    * xgboost choice): confidence and per-class probabilities are
    * explicitly null rather than fabricated. */
  def withoutProbabilities(model: Transformer, features: DataFrame,
                           modelVersion: String): DataFrame =
    score(model, features, modelVersion, None)

  /** Latest row per key, assembled and scored; `probs` is the class
    * probability array, None for null probability columns. */
  private def score(model: Transformer, features: DataFrame,
                    modelVersion: String,
                    probs: Option[Column]): DataFrame = {
    val latest = WindowFns.latestPerKey(features, Seq("user_id"),
      col("date"))
    val scored = model.transform(Train.assembler.transform(latest))
    def r4(f: Column => Column): Column =
      probs.fold(lit(null).cast("double"))(p => round(f(p), 4))
    scored.select(
      col("user_id"),
      col("date").as("as_of_date"),
      Indicators.nextTradingDay(col("date")).as("prediction_date"),
      FeatureEngineering.classOf(col("prediction"))
        .as("predicted_class"),
      r4(array_max).as("confidence"),
      r4(_.getItem(0)).as("prob_low"),
      r4(_.getItem(1)).as("prob_medium"),
      r4(_.getItem(2)).as("prob_high"),
      lit(modelVersion).as("model_version"))
  }
}
