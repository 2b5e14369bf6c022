package graft.dml.runtime

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.{StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata
import org.json4s.JsonAST.JObject
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.dml.{DmlParser, TrainCompiler, TrainSpec}
import graft.dml.events.{Agents, RuleEngine, WhenRule}

import AlgorithmRegistry.{Classification, Regression}

/** The one-pass forms of the DSL runtime's statement steps return exactly
  * what the one-job-per-metric / per-column / per-side / per-rule forms
  * they replaced return. Each reference below is the replaced form. */
class OnePassIdentitySpec extends AnyFunSuite {

  private def spark = SparkTestSession.spark

  private def assembled(df: DataFrame): DataFrame =
    new VectorAssembler().setInputCols(Array("x1", "x2", "x3", "x4"))
      .setOutputCol("features").transform(df)

  private def perMetricClassification(preds: DataFrame): Map[String, Double] = {
    val mc = new MulticlassClassificationEvaluator()
    Map(
      "accuracy" -> mc.setMetricName("accuracy").evaluate(preds),
      "f1" -> mc.setMetricName("f1").evaluate(preds),
      "precision" -> mc.setMetricName("weightedPrecision").evaluate(preds),
      "recall" -> mc.setMetricName("weightedRecall").evaluate(preds))
  }

  test("computeMetrics equals the per-metric evaluators exactly: " +
    "multiclass, binary with AUC, regression") {
    val df = assembled(DmlFixture.table(spark, 11, 800, 0L))
    // multiclass: three tiers; rawPrediction is width 3, so no AUC
    val multi = df.withColumn("label",
      when(col("tier") === "gold", 0.0).when(col("tier") === "silver", 1.0).otherwise(2.0))
    val multiPreds = new LogisticRegression().setMaxIter(10).fit(multi).transform(multi)
    assert(Evaluation.computeMetrics(multiPreds, Classification) ==
      perMetricClassification(multiPreds))

    // binary: width 2 from the rawPrediction metadata, and with the
    // metadata stripped from the one-row fallback
    val bin = df.withColumn("label", (col("outcome") === "yes").cast("double"))
    val binPreds = new LogisticRegression().setMaxIter(10).fit(bin).transform(bin)
    // AUC is the same evaluator call as before; Spark sums its per-partition
    // trapezoids in task-completion order, so any two evaluations of it
    // may differ in the last bit
    val auc = new BinaryClassificationEvaluator().setMetricName("areaUnderROC")
      .evaluate(binPreds)
    def assertBinary(got: Map[String, Double]): Unit = {
      assert(got - "auc" == perMetricClassification(binPreds))
      assert(math.abs(got("auc") - auc) <= 1e-12)
    }
    assertBinary(Evaluation.computeMetrics(binPreds, Classification))
    val stripped = binPreds.withMetadata("rawPrediction", Metadata.empty)
    assertBinary(Evaluation.computeMetrics(stripped, Classification))

    val reg = df.withColumn("label", col("y"))
    val regPreds = new LinearRegression().setMaxIter(10).fit(reg).transform(reg)
    val re = new RegressionEvaluator()
    assert(Evaluation.computeMetrics(regPreds, Regression) == Map(
      "rmse" -> re.setMetricName("rmse").evaluate(regPreds),
      "mae" -> re.setMetricName("mae").evaluate(regPreds),
      "r2" -> re.setMetricName("r2").evaluate(regPreds)))
  }

  test("the merged StringIndexer predicts exactly as one indexer per column") {
    val s = spark
    DmlFixture.table(s, 13, 900, 0L).createOrReplaceTempView("identity_train")
    val score = DmlFixture.table(s, 13, 500, 500000L)
    val spec = DmlParser.parse(
      "TRAIN MODEL identity_rf USING random_forest(n_estimators=5, max_depth=4) " +
        "FROM identity_train PREDICT outcome WITH FEATURES(x1, cat, x2, tier)")
      .asInstanceOf[TrainSpec]
    val merged = Trainer.train(s, spec).model

    def indexer(in: String, out: String) = new StringIndexer().setInputCol(in)
      .setOutputCol(out).setHandleInvalid("keep").setStringOrderType("alphabetAsc")
    val perColumn = new Pipeline().setStages(Array[PipelineStage](
      indexer("outcome", "label"), indexer("cat", "cat_idx"), indexer("tier", "tier_idx"),
      new VectorAssembler().setInputCols(Array("x1", "cat_idx", "x2", "tier_idx"))
        .setOutputCol("features").setHandleInvalid("keep"),
      new RandomForestClassifier().setNumTrees(5).setMaxDepth(4).setSeed(42L)
        .setLabelCol("label").setFeaturesCol("features")))
      .fit(TrainCompiler.trainingDataFrame(s, spec))

    def scored(m: org.apache.spark.ml.PipelineModel, df: DataFrame): Seq[Row] =
      m.transform(df).select(col("id"), col("label"), col("prediction"),
        vector_to_array(col("probability")).as("p")).orderBy("id").collect().toSeq
    assert(scored(merged, score) == scored(perColumn, score))
    // a scoring frame without the label column: both skip the label only
    def unlabelled(m: org.apache.spark.ml.PipelineModel) =
      m.transform(score.drop("outcome")).select("id", "prediction").orderBy("id")
        .collect().toSeq
    assert(unlabelled(merged) == unlabelled(perColumn))
  }

  /** The parts TRAIN draws for `spec` at seed 42, in declared order: the
    * training frame, oversampled when the statement balances, then
    * split. */
  private def splitParts(spec: TrainSpec): Array[DataFrame] = {
    val df = TrainCompiler.trainingDataFrame(spark, spec)
    val balanced =
      if (spec.balanceMethod.contains("oversampling")) Trainer.oversampleForTest(df, spec.target, 42L)
      else df
    balanced.randomSplit(spec.split.get.ratios.map(_._2).toArray, 42L)
  }

  /** A saved model's metadata JSON without its timestamp, and with its
    * uid (which also names the default output column) as `<uid>`. */
  private def savedParams(m: StringIndexerModel): JObject = {
    val dir = Files.createTempDirectory("graft-indexer").toString
    m.write.overwrite().save(dir)
    val json = spark.read.text(s"$dir/metadata").collect().map(_.getString(0)).mkString
    JObject(parse(json.replace(m.uid, "<uid>")).asInstanceOf[JObject].obj
      .filterNot(_._1 == "timestamp"))
  }

  test("TRAIN's prebuilt StringIndexerModel equals StringIndexer.fit on the " +
    "training split, and its observed split sizes equal each split's count(): " +
    "plain, BALANCE, cv(folds=2) and STOP WHEN, at shuffle partitions 1 and 7") {
    val s = spark
    // a string target, and string features with NULLs and case variants
    val base = DmlFixture.table(s, 37, 700, 0L)
      .withColumn("cat", when(col("id") % 9 === 0, lit(null))
        .when(col("id") % 7 === 0, upper(col("cat"))).otherwise(col("cat")))
      .withColumn("tier", when(col("id") % 11 === 0, lit(null)).otherwise(col("tier")))
    val score = DmlFixture.table(s, 37, 400, 900000L)
      .withColumn("cat", when(col("id") % 5 === 0, lit(null))
        .when(col("id") % 3 === 0, upper(col("cat")))
        .when(col("id") % 17 === 0, lit("unseen")).otherwise(col("cat")))
    val tail = "FROM indexer_train PREDICT outcome WITH FEATURES(x1, cat, tier, x2) " +
      "SPLIT DATA training=0.8, test=0.2 "
    val statements = Seq(
      "TRAIN MODEL idx_plain USING random_forest(n_estimators=4, max_depth=4) " + tail,
      "TRAIN MODEL idx_bal USING random_forest(n_estimators=4, max_depth=4) " + tail +
        "BALANCE CLASSES BY oversampling",
      "TRAIN MODEL idx_cv USING random_forest(n_estimators=4, max_depth=4) " + tail +
        "VALIDATE USING cv(folds=2) OPTIMIZE FOR accuracy",
      "TRAIN MODEL idx_stop USING logistic_regression " + tail + "STOP WHEN epochs >= 20")
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    for (partitions <- Seq(1, 7); text <- statements) try {
      s.conf.set(key, partitions.toString)
      val spec = DmlParser.parse(text).asInstanceOf[TrainSpec]
      // one category only on test rows: rows are split in x1 order (the
      // first column), so relabelling a category moves no row
      base.createOrReplaceTempView("indexer_train")
      val Array(train0, test0) = splitParts(spec)
      val testOnly = test0.select("x1").except(train0.select("x1")).orderBy("x1")
        .head().getDouble(0)
      base.withColumn("cat", when(col("x1") === testOnly, lit("test_only"))
        .otherwise(col("cat"))).createOrReplaceTempView("indexer_train")
      val parts = splitParts(spec)
      assert(parts(1).filter(col("cat") === "test_only").count() > 0)
      assert(parts(0).filter(col("cat") === "test_only").count() == 0)

      val report = Trainer.train(s, spec)
      val where = s"$text at $partitions partitions"
      assert(report.splitCounts == Map("training" -> parts(0).count(),
        "test" -> parts(1).count()), where)
      val built = report.model.stages.collect { case m: StringIndexerModel => m }.head
      val fitted = new StringIndexer().setInputCols(Array("outcome", "cat", "tier"))
        .setOutputCols(Array("label", "cat_idx", "tier_idx"))
        .setHandleInvalid("keep").setStringOrderType("alphabetAsc").fit(parts(0))
      assert(built.labelsArray.map(_.toSeq).toSeq == fitted.labelsArray.map(_.toSeq).toSeq, where)
      assert(!built.labelsArray(1).contains("test_only"))
      assert(built.labelsArray(1).contains("A") && built.labelsArray(1).contains("a"))
      assert(savedParams(built) == savedParams(fitted), where)
      // the pipeline with the fitted indexer in its place predicts the same
      val swapped = new Pipeline().setStages(report.model.stages.map {
        case _: StringIndexerModel => fitted
        case t => t
      }.map(_.asInstanceOf[PipelineStage])).fit(parts(0))
      def scored(m: PipelineModel): Seq[Row] =
        m.transform(score).select(col("id"), col("label"), col("cat_idx"), col("tier_idx"),
          col("prediction"), vector_to_array(col("probability")).as("p"))
          .orderBy("id").collect().toSeq
      assert(scored(report.model) == scored(swapped), where)
    } finally s.conf.set(key, prev)
  }

  /** The replaced drift statistics: one aggregate per side. */
  private def perSideDrift(ref: DataFrame, cur: DataFrame, features: Seq[String])
      : Map[String, Double] = {
    def stats(df: DataFrame): Map[String, (Double, Double)] = {
      val aggs = features.flatMap { f =>
        Seq(
          sum(col(f).cast("decimal(28,8)")).cast("double").as(s"${f}_sum"),
          sum((col(f) * col(f)).cast("decimal(28,8)")).cast("double").as(s"${f}_sq"),
          count(col(f)).as(s"${f}_n"))
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      features.map { f =>
        val s = row.getAs[Double](s"${f}_sum")
        val sq = row.getAs[Double](s"${f}_sq")
        val n = row.getAs[Long](s"${f}_n")
        f -> (s / n, math.sqrt(math.max(sq / n - (s / n) * (s / n), 1e-12)))
      }.toMap
    }
    val (r, c) = (stats(ref), stats(cur))
    features.map(f => f -> math.abs(c(f)._1 - r(f)._1) / r(f)._2).toMap
  }

  private def sameScores(a: Map[String, Double], b: Map[String, Double]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) =>
      java.lang.Double.compare(v, b(k)) == 0 // NaN-aware exact equality
    }

  test("one-pass driftScores equals per-side statistics exactly") {
    val withNulls = (df: DataFrame) =>
      df.withColumn("x5", when(col("id") % 3 === 0, lit(null)).otherwise(col("x3")))
    val ref = withNulls(DmlFixture.table(spark, 17, 700, 0L))
    val cur = withNulls(DmlFixture.table(spark, 17, 500, 100000L, shift = 0.7))
    val features = Seq("x1", "x2", "x5", "amount")
    val onePass = Agents.driftScores(ref, cur, features)
    assert(sameScores(onePass, perSideDrift(ref, cur, features)))
    assert(onePass("x1") > 0.25 && onePass("x5") < 0.25)
    // an empty side has no group in the one-pass aggregate
    val empty = cur.limit(0)
    assert(sameScores(Agents.driftScores(ref, empty, features),
      perSideDrift(ref, empty, features)))
  }

  test("dispatchBatch counts equal per-rule filter().count(), with " +
    "overlapping patterns and NULL conditions") {
    val events = DmlFixture.events(spark, 19, 1500)
    val region = get_json_object(col("props"), "$.region")
    // (name, rule pattern, the SQL LIKE it stands for, condition)
    val conditions = Seq(
      ("orders", "order.%", "order.%", col("value") >= 60.0),
      ("paid", "order.paid", "order.paid", lit(true)),
      ("everything", "%", "%", lit(true)),
      ("users_glob", "user.*", "user.%", lit(true)),
      // NULL on the events whose props carry no region
      ("eu", "%", "%", region === "eu"),
      ("not_eu", "order.%", "order.%", !(region === "eu")),
      ("always_null", "%", "%", lit(null).cast("boolean")),
      ("nothing", "no.such.type", "no.such.type", lit(true)))
    val seen = mutable.Map.empty[String, Long]
    val rules = conditions.map { case (name, pattern, _, cond) =>
      WhenRule(name, pattern, cond, hits => seen(name) = hits.count())
    }
    val expected = conditions.map { case (name, _, like, cond) =>
      name -> events.filter(col("event_type").like(like)).filter(cond).count()
    }.filter(_._2 > 0).toMap
    assert(expected.keySet == Set("orders", "paid", "everything", "users_glob",
      "eu", "not_eu"))
    assert(expected("eu") + expected("not_eu") < expected("everything"))
    assert(new RuleEngine(rules).dispatchBatch(events) == expected)
    // each fired rule's action saw exactly its matching rows
    assert(seen.toMap == expected)
    assert(new RuleEngine(Nil).dispatchBatch(events).isEmpty)
  }
}
