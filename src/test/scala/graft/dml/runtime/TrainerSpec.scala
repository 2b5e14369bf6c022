package graft.dml.runtime

import java.nio.file.Files

import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{SQLTransformer, StandardScalerModel, VectorAssembler}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.dml.{DmlParser, TrainSpec}

/** End-to-end ml_train_model runtime tests over the sf0.001 fixtures —
  * the execution layer the reference specifies but never implements
  * (EXTENSIONS.md:136-177). All seeded; metric assertions are deterministic
  * bounds, repeated-run equality checks pin determinism exactly. */
class TrainerSpec extends AnyFunSuite {

  private def spark = SparkTestSession.withTables()

  private def parseTrain(text: String): TrainSpec =
    DmlParser.parse(text).asInstanceOf[TrainSpec]

  test("train logistic regression end-to-end with split and metrics") {
    val spec = parseTrain(
      "TRAIN MODEL flag_model USING logistic_regression(max_iter=20) " +
        "FROM lineitem PREDICT l_returnflag " +
        "WITH FEATURES(l_quantity, l_extendedprice, l_discount, l_tax) " +
        "SPLIT DATA training=0.8, test=0.2 OPTIMIZE FOR accuracy")
    val r1 = Trainer.train(spark, spec)
    assert(r1.metrics.contains("accuracy"))
    assert(r1.metrics("accuracy") >= 0.0 && r1.metrics("accuracy") <= 1.0)
    val total = r1.splitCounts.values.sum
    assert(math.abs(r1.splitCounts("training").toDouble / total - 0.8) < 0.05)
    // determinism: same seed → identical metrics
    val r2 = Trainer.train(spark, spec)
    assert(r1.metrics == r2.metrics)
  }

  test("decision tree exposes feature importance") {
    val spec = parseTrain(
      "TRAIN MODEL tree_model USING decision_tree(max_depth=4) " +
        "FROM lineitem PREDICT l_returnflag " +
        "WITH FEATURES(l_quantity, l_extendedprice, l_discount)")
    val r = Trainer.train(spark, spec)
    val imp = Evaluation.featureImportance(
      r.model, Seq("l_quantity", "l_extendedprice", "l_discount"))
    assert(imp.nonEmpty)
    assert(imp.values.sum > 0.0)
  }

  test("stop condition halts by epochs and writes checkpoints") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val spec = parseTrain(
      "TRAIN MODEL stop_model USING logistic_regression " +
        "FROM lineitem PREDICT l_returnflag WITH FEATURES(l_quantity, l_tax) " +
        "STOP WHEN epochs >= 20 SAVE CHECKPOINTS EVERY 10 epochs")
    val r = Trainer.train(spark, spec, checkpointDir = Some(dir))
    assert(r.epochs == 20)
    assert(r.checkpoints.size == 2)
    r.checkpoints.foreach(p =>
      assert(Files.exists(java.nio.file.Paths.get(p)), s"missing checkpoint $p"))
    assert(r.metrics("epochs") == 20.0)
  }

  test("time-based checkpoint unit keeps the default epoch chunk") {
    val dir = Files.createTempDirectory("graft-ckpt-h").toString
    // 'EVERY 2 hours' is checkpoint metadata: chunk stays 10 (not 2), the
    // loop runs 2 chunks to epochs=20, and each chunk saves a checkpoint
    val spec = parseTrain(
      "TRAIN MODEL stop_hours USING logistic_regression " +
        "FROM lineitem PREDICT l_returnflag WITH FEATURES(l_quantity, l_tax) " +
        "STOP WHEN epochs >= 20 SAVE CHECKPOINTS EVERY 2 hours")
    val r = Trainer.train(spark, spec, checkpointDir = Some(dir))
    assert(r.epochs == 20)
    assert(r.checkpoints.size == 2)
  }

  test("stop condition on metric can stop at first chunk") {
    val spec = parseTrain(
      "TRAIN MODEL easy_stop USING logistic_regression " +
        "FROM lineitem PREDICT l_returnflag WITH FEATURES(l_quantity) " +
        "STOP WHEN accuracy >= 0.0")
    val r = Trainer.train(spark, spec)
    assert(r.epochs == 10) // first chunk satisfies accuracy >= 0
  }

  test("balance oversampling lifts every class near the majority count") {
    val s = spark
    val spec = parseTrain(
      "TRAIN MODEL bal_model USING decision_tree FROM orders " +
        "PREDICT o_orderstatus WITH FEATURES(o_totalprice) " +
        "BALANCE CLASSES BY oversampling")
    val r = Trainer.train(s, spec)
    assert(r.metrics.contains("accuracy"))
    // Verify the balancing op directly (same code path, same seed): after
    // oversampling every class count should land near the majority count
    // (Bernoulli sampling noise ±10%).
    val df = graft.dml.TrainCompiler.trainingDataFrame(s, spec)
    val maxBefore = df.groupBy("o_orderstatus").count().collect()
      .map(_.getLong(1)).max.toDouble
    val balanced = Trainer.oversampleForTest(df, "o_orderstatus", 42)
    val after = balanced.groupBy("o_orderstatus").count().collect().map(_.getLong(1))
    after.foreach(n => assert(math.abs(n - maxBefore) / maxBefore < 0.1,
      s"class count $n far from majority $maxBefore"))
  }

  test("balancing draws the same rows at shuffle partitions 1 and 7") {
    val s = spark
    // three classes: the class-count query's row order follows the
    // shuffle layout, so seeds assigned in that order would re-draw the
    // sample
    val df = DmlFixture.table(s, 29, 600, 0L).select("id", "x1", "tier")
    def balanced(partitions: Int)(
        op: (org.apache.spark.sql.DataFrame, String, Long) => org.apache.spark.sql.DataFrame) = {
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(key)
      s.conf.set(key, partitions.toString)
      try op(df, "tier", 42L).orderBy("id", "x1").collect().toSeq
      finally s.conf.set(key, prev)
    }
    val over = balanced(1)(Trainer.oversampleForTest)
    assert(over.size > 600)
    assert(over == balanced(7)(Trainer.oversampleForTest))
    val under = balanced(1)(Trainer.undersampleForTest)
    assert(under.size < 600)
    assert(under == balanced(7)(Trainer.undersampleForTest))
  }

  test("class weights column is attached for weights balancing") {
    val spec = parseTrain(
      "TRAIN MODEL w_model USING logistic_regression(max_iter=5) FROM orders " +
        "PREDICT o_orderstatus WITH FEATURES(o_totalprice) " +
        "BALANCE CLASSES BY weights")
    val r = Trainer.train(spark, spec)
    assert(r.metrics.contains("accuracy"))
  }

  test("kmeans clustering reports silhouette") {
    val spec = parseTrain(
      "TRAIN MODEL clusters USING kmeans(n_clusters=3, max_iter=10) " +
        "FROM lineitem PREDICT l_quantity " +
        "WITH FEATURES(l_extendedprice, l_discount)")
    val r = Trainer.train(spark, spec)
    assert(r.metrics.contains("silhouette"))
    assert(r.metrics("silhouette") > -1.0 && r.metrics("silhouette") <= 1.0)
  }

  test("cross validation via VALIDATE USING cv(folds=3)") {
    val spec = parseTrain(
      "TRAIN MODEL cv_model USING logistic_regression(max_iter=10) " +
        "FROM lineitem PREDICT l_returnflag WITH FEATURES(l_quantity, l_discount) " +
        "VALIDATE USING cv(folds=3) OPTIMIZE FOR f1")
    val r = Trainer.train(spark, spec)
    assert(r.metrics.contains("f1"))
  }

  test("VALIDATE USING cv(folds=2) reports its fold-averaged metric as " +
    "cv_<metric>, equal to CrossValidator's avgMetrics") {
    val s = spark
    DmlFixture.table(s, 41, 600, 0L).createOrReplaceTempView("cv_train")
    val spec = parseTrain(
      "TRAIN MODEL cv_lin USING linear_regression(max_iter=10) FROM cv_train " +
        "PREDICT y WITH FEATURES(x1, x2, amount) VALIDATE USING cv(folds=2) OPTIMIZE FOR r2")
    val r = Trainer.train(s, spec)
    // the replaced form: the same pipeline under a CrossValidator of its own
    val pipeline = new Pipeline().setStages(Array[PipelineStage](
      new SQLTransformer().setStatement("SELECT *, CAST(`y` AS DOUBLE) AS label FROM __THIS__"),
      new VectorAssembler().setInputCols(Array("x1", "x2", "amount"))
        .setOutputCol("features").setHandleInvalid("keep"),
      new LinearRegression().setMaxIter(10)))
    val cv = new CrossValidator().setEstimator(pipeline)
      .setEvaluator(new RegressionEvaluator().setMetricName("r2"))
      .setEstimatorParamMaps(new ParamGridBuilder().build())
      .setNumFolds(2).setSeed(42L)
      .fit(graft.dml.TrainCompiler.trainingDataFrame(s, spec))
    assert(r.metrics("cv_r2") == cv.avgMetrics(0))
    assert(r.metrics("cv_r2") > 0.5 && r.metrics.contains("r2"))
    // without cv there is no cv metric
    assert(!Trainer.train(s, parseTrain("TRAIN MODEL plain_lin USING " +
      "linear_regression(max_iter=10) FROM cv_train PREDICT y WITH FEATURES(x1, x2) " +
      "OPTIMIZE FOR r2")).metrics.keys.exists(_.startsWith("cv_")))
  }

  test("scale() feature adds a StandardScaler stage") {
    val spec = parseTrain(
      "TRAIN MODEL scaled USING logistic_regression(max_iter=5) " +
        "FROM lineitem PREDICT l_returnflag " +
        "WITH FEATURES(TRANSFORM(scale(l_extendedprice)), l_quantity)")
    val r = Trainer.train(spark, spec)
    assert(r.model.stages.exists(_.isInstanceOf[StandardScalerModel]))
  }

  test("linear regression on numeric target") {
    val spec = parseTrain(
      "TRAIN MODEL price_reg USING linear_regression(max_iter=10) " +
        "FROM lineitem PREDICT l_extendedprice " +
        "WITH FEATURES(l_quantity, l_discount, l_tax)")
    val r = Trainer.train(spark, spec)
    assert(r.metrics.contains("rmse"))
    assert(r.metrics("rmse") >= 0.0)
  }

  test("unknown algorithm raises") {
    val spec = parseTrain(
      "TRAIN MODEL nope USING quantum_forest FROM lineitem PREDICT l_returnflag " +
        "WITH FEATURES(l_quantity)")
    val e = intercept[IllegalArgumentException] { Trainer.train(spark, spec) }
    assert(e.getMessage.contains("unknown algorithm"))
  }

  test("unknown parameter raises") {
    val spec = parseTrain(
      "TRAIN MODEL nope USING logistic_regression(warp_factor=9) FROM lineitem " +
        "PREDICT l_returnflag WITH FEATURES(l_quantity)")
    val e = intercept[IllegalArgumentException] { Trainer.train(spark, spec) }
    assert(e.getMessage.contains("unknown parameter"))
  }

  test("model registry: register, version bump, load, predict, deploy") {
    val s = spark
    val base = Files.createTempDirectory("graft-registry").toString
    val registry = new ModelRegistry(s, base)
    val spec = parseTrain(
      "TRAIN MODEL reg_model USING decision_tree(max_depth=3) FROM lineitem " +
        "PREDICT l_returnflag WITH FEATURES(l_quantity, l_discount)")
    val report = Trainer.train(s, spec)
    assert(registry.register(report) == 1)
    assert(registry.register(report) == 2)
    val loaded = registry.load("reg_model")
    val preds = registry.predict("reg_model", "lineitem", "reg_model_preds")
    assert(preds.columns.contains("prediction"))
    assert(s.table("reg_model_preds").count() == preds.count())
    registry.deploy("reg_model", "scoring_endpoint")
    assert(registry.deployments().count() == 1)
    assert(loaded.stages.nonEmpty)
  }

  test("evaluate and compare models") {
    val s = spark
    val specA = parseTrain(
      "TRAIN MODEL cmp_a USING decision_tree(max_depth=3) FROM lineitem " +
        "PREDICT l_returnflag WITH FEATURES(l_quantity, l_discount)")
    val specB = parseTrain(
      "TRAIN MODEL cmp_b USING logistic_regression(max_iter=10) FROM lineitem " +
        "PREDICT l_returnflag WITH FEATURES(l_quantity, l_discount)")
    val a = Trainer.train(s, specA)
    val b = Trainer.train(s, specB)
    val test = a.model.transform(graft.dml.TrainCompiler.trainingDataFrame(s, specA))
    assert(test.count() > 0)
    val cmp = Evaluation.compareModels(s,
      Seq("a" -> a.model, "b" -> b.model),
      graft.dml.TrainCompiler.trainingDataFrame(s, specA), "accuracy")
    val rows = cmp.collect()
    assert(rows.length == 2)
    // sorted descending by the primary metric
    assert(rows(0).getDouble(1) >= rows(1).getDouble(1))
  }

  test("validate on holdout table") {
    val s = spark
    graft.dml.TrainCompiler.trainingDataFrame(s, parseTrain(
      "TRAIN MODEL x USING alg FROM lineitem PREDICT l_returnflag " +
        "WITH FEATURES(l_quantity, l_discount)"))
      .limit(500).createOrReplaceTempView("holdout_lineitem")
    val spec = parseTrain(
      "TRAIN MODEL ho_model USING decision_tree(max_depth=3) FROM lineitem " +
        "PREDICT l_returnflag WITH FEATURES(l_quantity, l_discount) " +
        "VALIDATE ON holdout_lineitem")
    val r = Trainer.train(s, spec)
    assert(r.metrics.contains("accuracy"))
  }
}
