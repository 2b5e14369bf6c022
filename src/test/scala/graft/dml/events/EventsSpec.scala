package graft.dml.events

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.dml.{DmlParser, TrainSpec, Value}

/** Events/WHEN/agents layer: pub/sub roundtrip, rule dispatch (batch and
  * streaming), HPO random search, drift agent, ensemble, traffic split. */
class EventsSpec extends AnyFunSuite {

  private def spark = SparkTestSession.withTables()

  test("trial ranking treats NaN metrics as worst, both directions") {
    val ok = Agents.Trial(List("a" -> Value.VInt(1)), Map("accuracy" -> 0.7))
    val bad = Agents.Trial(List("a" -> Value.VInt(2)), Map("accuracy" -> Double.NaN))
    val missing = Agents.Trial(List("a" -> Value.VInt(3)), Map.empty)
    assert(Agents.rankTrials(Seq(bad, missing, ok), "accuracy", maximize = true)
      .head eq ok)
    assert(Agents.rankTrials(Seq(bad, ok, missing), "accuracy", maximize = false)
      .head eq ok)
  }

  test("publish/subscribe roundtrip with LIKE patterns") {
    val s = spark
    val dir = Files.createTempDirectory("graft-events").toString
    val bus = new EventBus(s, dir)
    bus.publish("model_trained", Map("model" -> "m1"), value = 0.9)
    bus.publish("model_failed", Map("model" -> "m2"), value = 0.1)
    bus.publish("drift_alert", Map("feature" -> "f1"), value = 0.7)
    assert(bus.subscribe("model_%").count() == 2)
    assert(bus.subscribe("%").count() == 3)
    val m = bus.subscribe("model_trained").select("props").head().getString(0)
    assert(m.contains("\"model\": \"m1\""))
    // typed Dataset surface over the same log
    val typed: Seq[Event] = bus.subscribeTyped("model_%").collect().toSeq
    assert(typed.map(_.event_type).toSet == Set("model_trained", "model_failed"))
    assert(typed.forall(_.props.startsWith("{")))
  }

  test("WHEN rules dispatch on batch with condition filters") {
    val s = spark
    var fired = Map.empty[String, Long]
    val rules = Seq(
      WhenRule("high_value_purchase", "purchase", col("value") > 50.0,
        df => { fired += ("hvp" -> df.count()) }),
      WhenRule("any_error", "error", lit(true),
        df => { fired += ("err" -> df.count()) }),
      WhenRule("never", "no_such_type", lit(true),
        _ => fail("rule must not fire")))
    val engine = new RuleEngine(rules)
    val result = engine.dispatchBatch(s.table("events"))
    assert(result.contains("high_value_purchase"))
    assert(result.contains("any_error"))
    assert(!result.contains("never"))
    assert(fired("hvp") == result("high_value_purchase"))
    assert(fired("err") == result("any_error"))
  }

  test("streaming WHEN rules fire via foreachBatch") {
    val s = spark
    val dir = Files.createTempDirectory("graft-stream-events").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val bus = new EventBus(s, dir)
    bus.publish("retrain_request", Map("model" -> "m1"))
    bus.publish("retrain_request", Map("model" -> "m2"))
    @volatile var total = 0L
    val engine = new RuleEngine(Seq(
      WhenRule("retrain", "retrain_%", lit(true),
        df => { total += df.count() })))
    val q = engine.runStream(
      bus.subscribeStream("%"), ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(total == 2, s"expected 2 streamed events, saw $total")
  }

  test("hyperparameter random search ranks trials by metric") {
    val s = spark
    val spec = DmlParser.parse(
      "TRAIN MODEL hpo_model USING decision_tree FROM lineitem " +
        "PREDICT l_returnflag WITH FEATURES(l_quantity, l_discount)")
      .asInstanceOf[TrainSpec]
    val trials = Agents.hyperparameterSearch(s, spec,
      space = Map("max_depth" -> Seq(Value.VInt(2), Value.VInt(4))),
      trials = 3, metric = "accuracy")
    assert(trials.nonEmpty && trials.size <= 2) // distinct configs only
    assert(trials.head.metrics("accuracy") >=
      trials.last.metrics("accuracy"))
  }

  test("drift agent scores planted shift and publishes alerts") {
    val s = spark
    val dir = Files.createTempDirectory("graft-drift-events").toString
    val bus = new EventBus(s, dir)
    val ref = s.table("events").select("value")
    val cur = ref.withColumn("value", col("value") + 100.0)
    val scores = Agents.driftAgent(bus, ref, cur, Seq("value"), threshold = 0.5)
    assert(scores("value") > 1.0, s"shift not detected: $scores")
    assert(bus.subscribe("drift_alert").count() == 1)
    // no drift → no alert
    val calm = Agents.driftAgent(bus, ref, ref, Seq("value"), threshold = 0.5)
    assert(calm("value") == 0.0)
    assert(bus.subscribe("drift_alert").count() == 1)
  }

  test("weighted ensemble combines predictions") {
    val s = spark
    // include a STRING feature: each model's StringIndexer adds an _idx
    // column, which the ensemble must drop between transforms
    val spec = DmlParser.parse(
      "TRAIN MODEL ens_base USING decision_tree(max_depth=3) FROM lineitem " +
        "PREDICT l_returnflag WITH FEATURES(l_quantity, l_discount, l_linestatus)")
      .asInstanceOf[TrainSpec]
    val a = graft.dml.runtime.Trainer.train(s, spec)
    val b = graft.dml.runtime.Trainer.train(s,
      spec.copy(params = List("max_depth" -> Value.VInt(2))))
    val data = graft.dml.TrainCompiler.trainingDataFrame(s, spec).limit(100)
    val out = Agents.weightedEnsemble(Seq(a.model -> 0.7, b.model -> 0.3), data)
    assert(out.columns.contains("ensemble_prediction"))
    assert(out.filter(col("ensemble_prediction").isNull).count() == 0)
  }

  test("traffic split routes deterministically with requested proportions") {
    val s = spark
    val routed = Agents.trafficSplit(
      s.table("customer"), "c_custkey", Seq("champion" -> 80, "challenger" -> 20))
    val counts = routed.groupBy("arm").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    assert(counts.keySet == Set("champion", "challenger"))
    assert(math.abs(counts("champion") / total - 0.8) < 0.12)
    val again = Agents.trafficSplit(
      s.table("customer"), "c_custkey", Seq("champion" -> 80, "challenger" -> 20))
      .groupBy("arm").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == again)
  }

  test("A/B traffic split with auto-promote deploys the winning arm") {
    val s = spark
    val base = java.nio.file.Files.createTempDirectory("graft-ab").toString
    val registry = new graft.dml.runtime.ModelRegistry(s, base)
    val spec = DmlParser.parse(
      "TRAIN MODEL ab_a USING decision_tree(max_depth=4) FROM lineitem " +
        "PREDICT l_returnflag WITH FEATURES(l_quantity, l_discount)")
      .asInstanceOf[TrainSpec]
    val a = graft.dml.runtime.Trainer.train(s, spec)
    val b = graft.dml.runtime.Trainer.train(s,
      spec.copy(name = "ab_b", params = List("max_depth" -> Value.VInt(1))))
    registry.register(a)
    registry.register(b.copy(spec = b.spec))
    val data = graft.dml.TrainCompiler.trainingDataFrame(s, spec)
    val routed = Agents.trafficSplit(data.withColumn("rid",
        org.apache.spark.sql.functions.monotonically_increasing_id()),
      "rid", Seq("champion" -> 50, "challenger" -> 50))
    val (winner, scores) = Agents.autoPromote(registry, routed,
      Map("champion" -> ("ab_a", a.model), "challenger" -> ("ab_b", b.model)),
      endpoint = "ab_endpoint")
    assert(scores.size == 2)
    assert(scores(winner) == scores.values.max)
    val dep = registry.deployments().filter(col("endpoint") === "ab_endpoint")
    assert(dep.count() == 1)
  }

  test("explain returns top-k importances") {
    val s = spark
    val spec = DmlParser.parse(
      "TRAIN MODEL exp_model USING decision_tree(max_depth=4) FROM lineitem " +
        "PREDICT l_returnflag WITH FEATURES(l_quantity, l_extendedprice, l_discount)")
      .asInstanceOf[TrainSpec]
    val r = graft.dml.runtime.Trainer.train(s, spec)
    val top = Agents.explain(r.model,
      Seq("l_quantity", "l_extendedprice", "l_discount"), topK = 2)
    assert(top.size == 2)
    assert(top(0)._2 >= top(1)._2)
  }

  test("psiDrift: identical slices score ~0, a shifted slice drifts") {
    val s = spark
    val e = s.table("events").select("event_type", "value")
    // identical distributions => every bin contributes exactly 0
    val same = graft.dml.events.Agents.psiDrift(
      e, e, "value", Seq("event_type"), binWidth = 25.0, nBins = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(same.nonEmpty)
    assert(same.values.forall(math.abs(_) < 1e-9), s"non-zero PSI: $same")
    // shift current by +100: mass moves 4 bins right => strong drift
    val shifted = e.withColumn("value", col("value") + 100)
    val drift = graft.dml.events.Agents.psiDrift(
      e, shifted, "value", Seq("event_type"), binWidth = 25.0, nBins = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(drift.values.forall(_ > 0.25), s"shift not detected: $drift")
  }

  test("TPE search beats random search on a deterministic objective") {
    import Agents.ParamSpace
    // reference/AGENTS.md:110-117 space; optimum at lr=0.01, dropout=0.3,
    // batch_size=128 (score 0.5)
    val space = Map(
      "learning_rate" -> ParamSpace.LogUniform(1e-4, 0.1),
      "dropout_rate" -> ParamSpace.Uniform(0.1, 0.5),
      "batch_size" -> ParamSpace.Choice(
        List(Value.VInt(32), Value.VInt(64), Value.VInt(128), Value.VInt(256))))
    def objective(params: List[(String, Value)]): Map[String, Double] = {
      val p = params.toMap
      def num(n: String) = p(n) match {
        case Value.VInt(i) => i.toDouble
        case Value.VFloat(f) => f
        case other => fail(s"unexpected $other")
      }
      val lr = num("learning_rate")
      val dr = num("dropout_rate")
      val bs = num("batch_size")
      Map("score" -> (-math.pow(math.log10(lr) + 2.0, 2)
        - 4.0 * math.pow(dr - 0.3, 2)
        + (if (bs == 128.0) 0.5 else 0.0)))
    }
    val budget = 50
    val tpe = Agents.tpeSearch(space, objective, "score", trials = budget,
      maximize = true, seed = 7L)
    // pure random baseline = the same loop with startup covering the
    // whole budget (every draw from the prior)
    val random = Agents.tpeSearch(space, objective, "score", trials = budget,
      maximize = true, seed = 7L, nStartup = budget)
    assert(tpe.size == budget && random.size == budget)
    val bestTpe = tpe.head.metrics("score")
    val bestRandom = random.head.metrics("score")
    assert(bestTpe > bestRandom,
      s"TPE ($bestTpe) must beat random ($bestRandom) within $budget trials")
    // and actually converge near the optimum (0.5)
    assert(bestTpe > 0.3, s"TPE best $bestTpe too far from the optimum 0.5")
    // every proposal respects its space bounds
    tpe.foreach { t =>
      val p = t.params.toMap
      val lr = p("learning_rate").asInstanceOf[Value.VFloat].v
      val dr = p("dropout_rate").asInstanceOf[Value.VFloat].v
      assert(lr >= 1e-4 && lr <= 0.1)
      assert(dr >= 0.1 && dr <= 0.5)
      assert(Set(32L, 64L, 128L, 256L)(
        p("batch_size").asInstanceOf[Value.VInt].v))
    }
  }

  test("Bayesian HPO over real fits ranks trials by the target metric") {
    val s = spark
    import Agents.ParamSpace
    val spec = DmlParser.parse(
      "TRAIN MODEL hpo_bayes USING logistic_regression(max_iter=5) " +
        "FROM lineitem PREDICT l_returnflag " +
        "WITH FEATURES(l_quantity, l_discount)").asInstanceOf[TrainSpec]
    val out = Agents.hyperparameterSearchBayes(s, spec,
      Map("regularization" -> ParamSpace.LogUniform(1e-4, 1.0)),
      trials = 4, metric = "accuracy", seed = 11L)
    assert(out.size == 4)
    assert(out.forall(_.metrics.contains("accuracy")))
    // best-first ordering
    val accs = out.map(_.metrics("accuracy"))
    assert(accs == accs.sortBy(-_))
  }

  test("priority subscription delivers high-priority types first, FIFO within") {
    val s = spark
    val dir = Files.createTempDirectory("graft-prio").toString
    val bus = new EventBus(s, dir)
    // publish low-priority chatter first, then the converged event —
    // drain order must put converged FIRST despite its later timestamp
    bus.publish("training.epoch_complete", Map("epoch" -> "1"))
    Thread.sleep(3)
    bus.publish("training.heartbeat", Map.empty)
    Thread.sleep(3)
    bus.publish("training.epoch_complete", Map("epoch" -> "2"))
    Thread.sleep(3)
    bus.publish("training.converged", Map.empty)
    val drained = bus.subscribeOrdered("training.*")
      .orderBy("deliver_pos")
      .select("event_type", "priority", "deliver_pos").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(drained.map(_._3).toSeq == Seq(1L, 2L, 3L, 4L),
      "positions must be a contiguous 1-based sequence")
    assert(drained.map(_._1).toSeq == Seq("training.converged",
      "training.epoch_complete", "training.epoch_complete",
      "training.heartbeat"),
      s"priority then FIFO order violated: ${drained.toSeq}")
    assert(drained.map(_._2).toSeq == Seq(1, 3, 3, 5))
  }

  test("deliveryOrder drains null-timestamp events last within a priority") {
    val s = spark
    import s.implicits._
    // two same-priority events, the EARLIER-published one without a ts:
    // NULLS LAST (pinned to DuckDB's ORDER BY default) must drain the
    // timestamped peer first
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val events = Seq(
      (1L, None: Option[java.sql.Timestamp], "training.heartbeat", 0.0),
      (2L, Some(t), "training.heartbeat", 0.0),
      (3L, None: Option[java.sql.Timestamp], "training.converged", 0.0))
      .toDF("event_id", "ts", "event_type", "value")
    val drained = Events.deliveryOrder(events,
        Events.priorityOf(col("event_type")))
      .orderBy("deliver_pos").select("event_id").as[Long].collect().toSeq
    // converged (priority 1, null ts) still precedes the priority-5 rows;
    // within priority 5 the null-ts event drains after the timestamped one
    assert(drained == Seq(3L, 2L, 1L))
  }

  test("event-log compaction folds publish files; rows and subscribers unchanged") {
    val s = spark
    val dir = Files.createTempDirectory("graft-compact").toString
    val bus = new EventBus(s, dir)
    (1 to 6).foreach(i => bus.publish("training.epoch_complete",
      Map("epoch" -> i.toString), value = i.toDouble))
    def partFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-"))
    val before = bus.subscribe("%").orderBy("event_id")
      .select("event_id", "event_type", "value", "props").collect().toSeq
    assert(partFiles() == 6, "one file per publish before compaction")
    assert(bus.compact() == 6L)
    assert(partFiles() == 1, "compaction folds the log into one file")
    val after = bus.subscribe("%").orderBy("event_id")
      .select("event_id", "event_type", "value", "props").collect().toSeq
    assert(after == before)
    // the bus keeps working after the swap
    bus.publish("training.converged", Map.empty)
    assert(bus.subscribe("training.*").count() == 7)
    assert(!new java.io.File(dir + "_old").exists(),
      "backup is reclaimed after a verified swap")
  }

  test("publishAll appends a batch of N events as one file of N rows") {
    val s = spark
    val dir = Files.createTempDirectory("graft-publish-all").toString
    val bus = new EventBus(s, dir)
    def partFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-"))
    val batch = (1 to 5).map(i => s"alert.$i" -> Map("n" -> i.toString))
    bus.publishAll(batch)
    assert(partFiles() == 1)
    val rows = bus.subscribe("%").orderBy("event_id")
      .select("event_type", "props", "value", "user_id").collect().toSeq
    assert(rows.map(_.getString(0)) == batch.map(_._1))
    assert(rows.map(_.getString(1)) == (1 to 5).map(i => s"""{"n": "$i"}"""))
    assert(rows.forall(r => r.getDouble(2) == 0.0 && r.getLong(3) == -1L))
    // an empty batch writes nothing; publish still appends one file
    bus.publishAll(Nil)
    bus.publish("single", Map.empty)
    assert(partFiles() == 2)
    assert(bus.subscribe("%").count() == 6)
  }

  test("glob subscription patterns match dotted event types") {
    val s = spark
    val dir = Files.createTempDirectory("graft-glob").toString
    val bus = new EventBus(s, dir)
    bus.publish("training.start", Map.empty)
    bus.publish("training.converged", Map.empty)
    bus.publish("model.deployed", Map.empty)
    assert(bus.subscribe("training.*").count() == 2)
    assert(bus.subscribe("*.converged").count() == 1)
    assert(bus.subscribe("model.deployed").count() == 1, "exact still works")
    // a glob-converted pattern must escape the literal underscore — 'x_y'
    // may not match 'xzy'
    bus.publish("axb.end", Map.empty)
    bus.publish("a_b.end", Map.empty)
    assert(bus.subscribe("a_b.*").count() == 1)
  }

  test("explainRows: linear contributions are exactly coef × (x − mean)") {
    val s = spark
    import s.implicits._
    Seq((1.0, 10.0), (2.0, 20.0), (3.0, 10.0), (4.0, 30.0), (5.0, 20.0))
      .toDF("x", "z")
      .withColumn("y", col("x") * 2.0 + col("z") * 3.0)
      .createOrReplaceTempView("lin_tiny")
    val spec = DmlParser.parse(
      "TRAIN MODEL lin_exact USING linear_regression(max_iter=100) " +
        "FROM lin_tiny PREDICT y WITH FEATURES(x, z)")
      .asInstanceOf[TrainSpec]
    val r = graft.dml.runtime.Trainer.train(s, spec)
    val out = Agents.explainRows(r.model, s.table("lin_tiny"),
      Seq("x", "z"), topK = 2)
    val rows = out.select("x", "z", "prediction", "feature", "contribution")
      .collect()
    assert(rows.length == 10, "5 rows × top-2 features")
    // exact fit ⇒ coef_x = 2, coef_z = 3; means: x̄ = 3, z̄ = 18
    rows.foreach { row =>
      val (x, z, f, c) = (row.getDouble(0), row.getDouble(1),
        row.getString(3), row.getDouble(4))
      val expected = if (f == "x") 2.0 * (x - 3.0) else 3.0 * (z - 18.0)
      assert(math.abs(c - expected) < 1e-3,
        s"feature $f at x=$x z=$z: got $c expected $expected")
    }
    // per-row contributions decompose prediction − mean(prediction)
    val meanPred = rows.map(_.getDouble(2)).distinct.sum / 5
    rows.groupBy(r => (r.getDouble(0), r.getDouble(1))).foreach {
      case (_, rs) =>
        val sum = rs.map(_.getDouble(4)).sum
        assert(math.abs(sum - (rs.head.getDouble(2) - meanPred)) < 1e-3)
    }
  }

  test("explainRows: tree path contributions obey the Saabas identity") {
    val s = spark
    import s.implicits._
    // y depends ONLY on x — the tree must attribute everything to x
    Seq((1.0, 5.0), (2.0, 9.0), (3.0, 5.0), (10.0, 9.0),
      (11.0, 5.0), (12.0, 9.0))
      .toDF("x", "z")
      .withColumn("y", when(col("x") > 6.0, 100.0).otherwise(10.0))
      .createOrReplaceTempView("tree_tiny")
    val spec = DmlParser.parse(
      "TRAIN MODEL tree_exact USING decision_tree_regressor(max_depth=3) " +
        "FROM tree_tiny PREDICT y WITH FEATURES(x, z)")
      .asInstanceOf[TrainSpec]
    val r = graft.dml.runtime.Trainer.train(s, spec)
    val out = Agents.explainRows(r.model, s.table("tree_tiny"),
      Seq("x", "z"), topK = 2).collect()
    val rootMean = (3 * 100.0 + 3 * 10.0) / 6 // root node expected value
    out.groupBy(_.getDouble(0)).foreach { case (_, rs) =>
      val pred = rs.head.getAs[Double]("prediction")
      val sum = rs.map(_.getAs[Double]("contribution")).sum
      // Saabas: contributions sum to prediction − root expectation
      assert(math.abs(sum - (pred - rootMean)) < 1e-9)
    }
    // z never splits: its contribution is identically zero
    assert(out.filter(_.getAs[String]("feature") == "z")
      .forall(r => r.getAs[Double]("contribution") == 0.0))
  }

  test("explainRows: per-class Saabas identity for tree classifiers") {
    val s = spark
    import s.implicits._
    import org.apache.spark.ml.functions.vector_to_array
    // binary label driven by x; z is noise the forest may or may not use
    Seq((1.0, 5.0), (2.0, 9.0), (3.0, 5.0), (4.0, 2.0), (10.0, 9.0),
      (11.0, 5.0), (12.0, 9.0), (13.0, 1.0))
      .toDF("x", "z")
      .withColumn("y", when(col("x") > 6.0, 1.0).otherwise(0.0))
      .createOrReplaceTempView("rf_tiny")
    val spec = DmlParser.parse(
      "TRAIN MODEL rf_exp USING random_forest(n_estimators=5, max_depth=3) " +
        "FROM rf_tiny PREDICT y WITH FEATURES(x, z)")
      .asInstanceOf[TrainSpec]
    val r = graft.dml.runtime.Trainer.train(s, spec)
    val rf = r.model.stages.reverse.collectFirst {
      case m: org.apache.spark.ml.classification.RandomForestClassificationModel => m
    }.get
    val trees = rf.trees.map(t => t.rootNode -> 1.0 / rf.getNumTrees).toSeq
    // per-row predicted-class probability straight from the model
    val probs = r.model.transform(s.table("rf_tiny"))
      .select(col("x"), col("prediction"),
        element_at(vector_to_array(col("probability")),
          col("prediction").cast("int") + 1).as("p"))
      .collect().map(r => r.getDouble(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val out = Agents.explainRows(r.model, s.table("rf_tiny"),
      Seq("x", "z"), topK = 2).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Double]("x")).foreach { case (x, rs) =>
      val (pred, p) = probs(x)
      // identity: contributions sum to P(class|x) − Σ wᵗ·p_root(class)
      val contribSum = rs.map(_.getAs[Double]("contribution")).sum
      val baseline = Agents.classTreeBaseline(trees, pred.toInt)
      assert(math.abs(contribSum - (p - baseline)) < 1e-9,
        s"x=$x: sum=$contribSum p=$p baseline=$baseline")
    }
  }

  test("explainRows: GBT classifier attributes the margin (no throw, exact sum)") {
    val s = spark
    import s.implicits._
    Seq((1.0, 5.0), (2.0, 9.0), (3.0, 5.0), (10.0, 9.0),
      (11.0, 5.0), (12.0, 9.0))
      .toDF("x", "z")
      .withColumn("y", when(col("x") > 6.0, 1.0).otherwise(0.0))
      .createOrReplaceTempView("gbt_tiny")
    val spec = DmlParser.parse(
      "TRAIN MODEL gbt_exp USING gradient_boosting(n_estimators=3, max_depth=2) " +
        "FROM gbt_tiny PREDICT y WITH FEATURES(x, z)")
      .asInstanceOf[TrainSpec]
    val r = graft.dml.runtime.Trainer.train(s, spec)
    val gbt = r.model.stages.reverse.collectFirst {
      case m: org.apache.spark.ml.classification.GBTClassificationModel => m
    }.get
    val out = Agents.explainRows(r.model, s.table("gbt_tiny"),
      Seq("x", "z"), topK = 2).collect()
    // margin-scale Saabas: per-row contributions sum to
    // F(x) − Σ wᵗ·rootᵗ.prediction, with F the trees' weighted margin
    val baseline = gbt.trees.zip(gbt.treeWeights)
      .map { case (t, w) => w * t.rootNode.prediction }.sum
    val margins = s.table("gbt_tiny").collect().map { row =>
      val v = org.apache.spark.ml.linalg.Vectors.dense(
        row.getDouble(0), row.getDouble(1))
      row.getDouble(0) ->
        gbt.trees.zip(gbt.treeWeights)
          .map { case (t, w) =>
            w * org.apache.spark.ml.tree.GraftTreeAccess
              .leafPrediction(t.rootNode, v)
          }.sum
    }.toMap
    out.groupBy(_.getAs[Double]("x")).foreach { case (x, rs) =>
      val contribSum = rs.map(_.getAs[Double]("contribution")).sum
      assert(math.abs(contribSum - (margins(x) - baseline)) < 1e-9,
        s"x=$x: sum=$contribSum margin=${margins(x)} baseline=$baseline")
    }
  }

  test("kernelShapRows agrees with the exact linear decomposition") {
    val s = spark
    import s.implicits._
    // linear target over 3 features: enumeration (2³−2 = 6 coalitions)
    // makes KernelSHAP exact, and exact SHAP of a linear model against
    // the mean background IS coef·(x − mean) — the explainRows path
    Seq((1.0, 2.0, 3.0), (4.0, 1.0, 0.0), (2.0, 5.0, 1.0),
      (0.0, 3.0, 4.0), (3.0, 0.0, 2.0), (5.0, 4.0, 5.0))
      .toDF("a", "b", "c")
      .withColumn("y", col("a") * 2.0 - col("b") * 3.0 + col("c") * 0.5)
      .createOrReplaceTempView("lin_shap")
    val spec = DmlParser.parse(
      "TRAIN MODEL lin_shap_m USING linear_regression(max_iter=50) " +
        "FROM lin_shap PREDICT y WITH FEATURES(a, b, c)")
      .asInstanceOf[TrainSpec]
    val r = graft.dml.runtime.Trainer.train(s, spec)
    def byRowFeature(df: org.apache.spark.sql.DataFrame)
        : Map[(Double, String), Double] =
      df.collect().map(row => (row.getAs[Double]("a"),
        row.getAs[String]("feature")) ->
        row.getAs[Double]("contribution")).toMap
    val exact = byRowFeature(Agents.explainRows(
      r.model, s.table("lin_shap"), Seq("a", "b", "c"), topK = 3))
    val kernel = byRowFeature(Agents.kernelShapRows(
      r.model, s.table("lin_shap"), Seq("a", "b", "c"), topK = 3))
    assert(kernel.keySet == exact.keySet)
    exact.foreach { case (key, v) =>
      assert(math.abs(kernel(key) - v) < 1e-6,
        s"$key: kernel=${kernel(key)} exact=$v")
    }
  }

  test("psiDrift: a group on only one side is maximal drift, not dropped") {
    val s = spark
    import s.implicits._
    val ref = Seq(("a", 10.0), ("a", 30.0)).toDF("event_type", "value")
    val cur = Seq(("a", 10.0), ("a", 30.0), ("b", 40.0))
      .toDF("event_type", "value")
    val out = Agents.psiDrift(ref, cur, "value", Seq("event_type"),
      binWidth = 25.0, nBins = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // brand-new event_type 'b': previously silently omitted by the inner
    // totals join; must surface as psi = +inf
    assert(out.contains("b"), s"one-sided group dropped: $out")
    assert(out("b").isPosInfinity)
    assert(out("a") == 0.0, s"identical group must score 0: $out")
  }

  test("psiDrift: NULL values are dropped, negative values clamp to bin 0") {
    val s = spark
    import s.implicits._
    // ref carries a NULL row — dropping it makes the sides identical;
    // counting it (the old `least(NULL, …)` top-bin misattribution) would
    // make them differ
    val ref = Seq(("a", Some(10.0)), ("a", Some(30.0)), ("a", None))
      .toDF("event_type", "value")
    val cur = Seq(("a", Some(10.0)), ("a", Some(30.0)))
      .toDF("event_type", "value")
    val psiNull = Agents.psiDrift(ref, cur, "value", Seq("event_type"),
      binWidth = 25.0, nBins = 20).collect().map(_.getDouble(1))
    assert(psiNull.forall(math.abs(_) < 1e-9), "NULL rows must not count")
    // −60 clamps into bin 0, same as 5.0 — no phantom negative bins
    val refNeg = Seq(("a", -60.0), ("a", 30.0)).toDF("event_type", "value")
    val curNeg = Seq(("a", 5.0), ("a", 30.0)).toDF("event_type", "value")
    val psiNeg = Agents.psiDrift(refNeg, curNeg, "value", Seq("event_type"),
      binWidth = 25.0, nBins = 20).collect().map(_.getDouble(1))
    assert(psiNeg.forall(math.abs(_) < 1e-9), "negatives must clamp to bin 0")
  }
}
