package graft.dml.runtime

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.classification.{DecisionTreeClassificationModel, GBTClassificationModel, LogisticRegressionModel, RandomForestClassificationModel}
import org.apache.spark.ml.evaluation._
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, GBTRegressionModel, LinearRegressionModel, RandomForestRegressionModel}
import org.apache.spark.sql.{DataFrame, SparkSession}

import AlgorithmRegistry.{Classification, Clustering, Regression, Task}

/** evaluate_model / compare_models / feature_importance (SURVEY §2.6,
  * reference/DSL.md:214-233). All metric computation is distributed — the
  * evaluators run aggregate jobs; nothing is collected except scalars.
  * A task's standard metrics come from one aggregate pass
  * ([[computeMetrics]]), not one job per metric.
  */
object Evaluation {

  /** OPTIMIZE FOR metric → evaluator (SURVEY §2.2 O4 mapping). */
  def evaluatorFor(task: Task, metric: Option[String]): Evaluator = {
    val m = metric.map(_.toLowerCase)
    task match {
      case Classification => m match {
        case Some("auc") | Some("areaunderroc") =>
          new BinaryClassificationEvaluator().setMetricName("areaUnderROC")
        case Some("accuracy") | None =>
          new MulticlassClassificationEvaluator().setMetricName("accuracy")
        case Some("f1") | Some("f1_score") =>
          new MulticlassClassificationEvaluator().setMetricName("f1")
        case Some("precision") =>
          new MulticlassClassificationEvaluator().setMetricName("weightedPrecision")
        case Some("recall") =>
          new MulticlassClassificationEvaluator().setMetricName("weightedRecall")
        case Some(other) =>
          new MulticlassClassificationEvaluator().setMetricName(other)
      }
      case Regression => m match {
        case Some("mae") => new RegressionEvaluator().setMetricName("mae")
        case Some("r2")  => new RegressionEvaluator().setMetricName("r2")
        case _           => new RegressionEvaluator().setMetricName("rmse")
      }
      case Clustering => new ClusteringEvaluator()
    }
  }

  /** The [[computeMetrics]] key of an [[evaluatorFor]] evaluator's metric. */
  def metricKey(evaluator: Evaluator): String =
    evaluator.getOrDefault(evaluator.getParam("metricName")) match {
      case "areaUnderROC"      => "auc"
      case "weightedPrecision" => "precision"
      case "weightedRecall"    => "recall"
      case other               => other.toString
    }

  /** Standard metric map per task over a transformed (predictions)
    * DataFrame, one pass per metric family: every classification metric
    * reads the one confusion matrix of a single `MulticlassMetrics`, every
    * regression metric the one column summary of a single
    * `RegressionMetrics` — the same objects `evaluate` builds per metric,
    * so the values are bit-identical to the per-metric evaluators. Binary
    * AUC (a sort over the scores) and silhouette take passes of their own;
    * only then is the frame cached for the duration, since without the
    * cache each pass would re-run the model transform and the full source
    * lineage (per chunk, in the STOP WHEN loop). */
  def computeMetrics(predictions: DataFrame, task: Task): Map[String, Double] = {
    val withAuc = task == Classification && rawPredictionWidth(predictions) == 2
    if (withAuc || task == Clustering) {
      val cached = predictions.cache()
      try metricsOf(cached, task, withAuc)
      finally { cached.unpersist(); () }
    } else metricsOf(predictions, task, withAuc)
  }

  private def metricsOf(
      predictions: DataFrame, task: Task, withAuc: Boolean): Map[String, Double] =
    task match {
      case Classification =>
        val mm = new MulticlassClassificationEvaluator().getMetrics(predictions)
        val base = Map(
          "accuracy" -> mm.accuracy,
          "f1" -> mm.weightedFMeasure,
          "precision" -> mm.weightedPrecision,
          "recall" -> mm.weightedRecall)
        if (withAuc)
          base + ("auc" -> new BinaryClassificationEvaluator()
            .setMetricName("areaUnderROC").evaluate(predictions))
        else base
      case Regression =>
        val rm = new RegressionEvaluator().getMetrics(predictions)
        Map(
          "rmse" -> rm.rootMeanSquaredError,
          "mae" -> rm.meanAbsoluteError,
          "r2" -> rm.r2)
      case Clustering =>
        Map("silhouette" -> new ClusteringEvaluator().evaluate(predictions))
    }

  /** Width of the rawPrediction vector. AUC applies only when the model
    * itself is binary, width 2: distinct labels in the eval split can
    * undercount the model's classes, e.g. the indexer's handleInvalid
    * bucket. The classifier records the width in the column's attribute
    * metadata; only when that is missing is one row read. -1 when the
    * frame has no rawPrediction column or no rows. */
  private def rawPredictionWidth(predictions: DataFrame): Int =
    if (!predictions.schema.fieldNames.contains("rawPrediction")) -1
    else {
      val declared = AttributeGroup.fromStructField(predictions.schema("rawPrediction")).size
      if (declared >= 0) declared
      else predictions.select("rawPrediction").head(1).headOption
        .fold(-1)(_.getAs[Vector](0).size)
    }

  /** evaluate_model(model, test_data, metrics) — DSL.md:214-219. */
  def evaluateModel(
      model: PipelineModel, test: DataFrame,
      metrics: Seq[String] = Seq("accuracy", "precision", "recall", "f1"))
      : Map[String, Double] = {
    val preds = model.transform(test)
    val all = computeMetrics(preds, taskOf(model))
    metrics.flatMap(m => all.get(m).map(m -> _)).toMap
  }

  /** compare_models(models, test_data, primary_metric) — DSL.md:228-233. */
  def compareModels(
      spark: SparkSession,
      models: Seq[(String, PipelineModel)],
      test: DataFrame,
      primaryMetric: String = "accuracy"): DataFrame = {
    import spark.implicits._
    models.map { case (name, m) =>
      val metrics = evaluateModel(m, test,
        Seq("accuracy", "precision", "recall", "f1", "rmse", "mae", "r2"))
      (name, metrics.getOrElse(primaryMetric, Double.NaN), metrics)
    }.toDF("model", primaryMetric + "_value", "metrics")
      .orderBy(org.apache.spark.sql.functions.col(primaryMetric + "_value").desc)
  }

  /** feature_importance(model) — DSL.md:221-226. Tree models expose
    * featureImportances; linear models fall back to |coefficients|
    * (per-row SHAP is out of scope, SURVEY §7.3). */
  def featureImportance(
      model: PipelineModel, featureNames: Seq[String]): Map[String, Double] = {
    val vec: Option[Vector] = model.stages.reverse.collectFirst {
      case m: DecisionTreeClassificationModel => m.featureImportances
      case m: RandomForestClassificationModel => m.featureImportances
      case m: GBTClassificationModel          => m.featureImportances
      case m: DecisionTreeRegressionModel     => m.featureImportances
      case m: RandomForestRegressionModel     => m.featureImportances
      case m: GBTRegressionModel              => m.featureImportances
      case m: LogisticRegressionModel =>
        // multinomial models carry a class × feature matrix; a feature's
        // importance is its column-wise L1 mass (binomial keeps the vector)
        if (m.numClasses > 2) {
          val agg = new Array[Double](m.coefficientMatrix.numCols)
          m.coefficientMatrix.foreachActive((_, j, v) => agg(j) += math.abs(v))
          org.apache.spark.ml.linalg.Vectors.dense(agg)
        } else m.coefficients
      case m: LinearRegressionModel           => m.coefficients
    }
    vec match {
      case None => Map.empty
      case Some(v) =>
        featureNames.zip(v.toArray.map(math.abs)).toMap
    }
  }

  private def taskOf(model: PipelineModel): Task =
    model.stages.last match {
      case _: DecisionTreeRegressionModel | _: RandomForestRegressionModel |
           _: GBTRegressionModel | _: LinearRegressionModel => Regression
      case _: org.apache.spark.ml.clustering.KMeansModel => Clustering
      case _ => Classification
    }
}
