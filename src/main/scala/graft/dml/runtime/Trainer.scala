package graft.dml.runtime

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.MultilayerPerceptronClassifier
import org.apache.spark.ml.evaluation._
import org.apache.spark.ml.feature.{SQLTransformer, StandardScaler, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.param.Params
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StringType}

import graft.dml._
import AlgorithmRegistry.{Classification, Clustering, Regression, Task}

/** `ml_train_model` runtime (SURVEY §2.6): TrainSpec → fitted PipelineModel
  * + metrics. This is the piece the reference specifies but never implements
  * (reference/EXTENSIONS.md:136-177) — realized as a spark.ml Pipeline:
  * StringIndexers for categorical columns, VectorAssembler, optional
  * StandardScaler (feature `scale(...)` markers), then the registry
  * estimator.
  *
  * Determinism: every random operation (splits, balancing, estimators) is
  * seeded; tests assert seeded metrics.
  *
  * Scale notes: balancing uses per-class Bernoulli sampling (no collect of
  * data, only the class-count map — bounded by class cardinality); splits
  * are randomSplit (narrow, no shuffle); MLlib's iterative optimizers do
  * treeAggregate gradient reduction, which is the distributed-training story
  * the reference's DISTRIBUTED.md tier aspires to (SURVEY §2.7).
  *
  * Fixed cost: a step that needs a scan takes one pass, not one per
  * column, split or metric. The balance class counts are one
  * `countByValue` job. The split sizes and the label sets of the string
  * label and string features come from ONE observed no-shuffle pass over
  * the tagged splits ([[observeSplits]]); the labels build the fitted
  * multi-column `StringIndexerModel` directly, the model
  * `StringIndexer.fit` would return on the training split (same labels,
  * same params), so neither the fit nor a cv fold or STOP WHEN chunk
  * re-runs it. The metrics take one pass per metric family
  * ([[Evaluation.computeMetrics]]). Under cv the indexer's labels come
  * from the whole training split, not from each fold's part of it: a
  * category seen only in a fold's held-out part has its index there
  * instead of the unseen-label bucket. The returned model is the same,
  * as its final fit is on the whole training split.
  */
object Trainer {

  /** Global L2 base for the changepoint_prior_scale rendering: small
    * enough to leave the unscaled season/trend coefficients essentially
    * unpenalized, large enough that the hinge-side lambda/tau^2 binds at
    * Prophet's default tau=0.05 (0.001/0.05^2 = 0.4). Overridden by an
    * explicit `regularization` param. */
  private[runtime] val ChangepointPriorBaseLambda = 1e-3

  final case class TrainReport(
      spec: TrainSpec,
      model: PipelineModel,
      metrics: Map[String, Double],
      epochs: Int,
      checkpoints: Seq[String],
      splitCounts: Map[String, Long],
      /** accepted-but-inert params of a documented stand-in (e.g.
        * prophet's decomposition knobs on the lag-regression stand-in) —
        * surfaced so reduced fidelity is visible, never silent. */
      ignoredParams: Seq[String] = Nil)

  def train(
      spark: SparkSession,
      spec: TrainSpec,
      checkpointDir: Option[String] = None,
      seed: Long = 42L): TrainReport =
    // resolve a bare-name holiday calendar ONCE, up front: every later
    // holidayDates consumer (frame build, feature naming, forecast via
    // report.spec, explain) then binds the same literal dates — a view
    // redefined mid-lifecycle can never remap a fitted coefficient
    trainResolved(spark, TrainCompiler.withResolvedCalendar(spec, spark),
      checkpointDir, seed)

  private def trainResolved(
      spark: SparkSession,
      spec: TrainSpec,
      checkpointDir: Option[String],
      seed: Long): TrainReport = {

    val alg = AlgorithmRegistry.resolve(spec.algorithm)
    val featureNames = TrainCompiler.featureNames(spec)

    // Training DataFrame with scale() markers stripped — standardization is
    // done by a distributed StandardScaler stage instead of per-row SQL.
    val (df0, needScale) = trainingFrame(spark, spec)

    // O6: BALANCE CLASSES BY method (seeded, distributed)
    val (df1, weightCol) = spec.balanceMethod match {
      case Some("oversampling")  => (Balance.oversample(df0, spec.target, seed), None)
      case Some("undersampling") => (Balance.undersample(df0, spec.target, seed), None)
      case Some("weights")       => (Balance.weighted(df0, spec.target), Some("class_weight"))
      case Some(other) =>
        throw new IllegalArgumentException(s"unknown balance method: $other")
      case None => (df0, None)
    }

    // O2: SPLIT DATA k=r,... (seeded randomSplit in declared order)
    val (parts, trainIdx, evalDf) = split(df1, spec, seed)
    val trainDf = parts(trainIdx)._2

    // Pipeline stages: label stage + either a text pipeline
    // (Tokenizer→HashingTF→IDF over one text feature) or categorical
    // indexing → assembler → optional scaler. A string label and the
    // string features share ONE multi-column StringIndexerModel, built
    // from the label sets observed on the split pass (same labels, same
    // indices as one indexer per column).
    val isString = (c: String) => df0.schema(c).dataType == StringType
    val vectorFeature = isVectorFeature(df0, featureNames)
    val indexed = Seq.newBuilder[(String, String)] // input → output column
    val stages = Vector.newBuilder[PipelineStage]
    if (alg.task != Clustering) {
      if (isString(spec.target)) indexed += spec.target -> "label"
      else if (spec.target != "label") // numeric target already named
        stages += new SQLTransformer().setStatement( // label needs no stage
          s"SELECT *, CAST(`${spec.target}` AS DOUBLE) AS label FROM __THIS__")
    }
    val categorical =
      if (vectorFeature || alg.textPipeline) Set.empty[String]
      else featureNames.filter(isString).toSet
    categorical.toSeq.sorted.foreach(fn => indexed += fn -> s"${fn}_idx")
    val indexedCols = indexed.result()
    val (partCounts, labels) = observeSplits(parts.map(_._2), trainIdx, indexedCols.map(_._1))
    if (indexedCols.nonEmpty) {
      val indexer = new StringIndexerModel(labels.toArray)
        .setInputCols(indexedCols.map(_._1).toArray)
        .setOutputCols(indexedCols.map(_._2).toArray)
        .setHandleInvalid("keep")
      stages += indexer.set(indexer.stringOrderType, "alphabetAsc")
    }
    val featureCols: Seq[String] =
      if (vectorFeature) {
        // single Array[Float]/Array[Double] feature (e.g. an embedding
        // column): converted to an ML vector in the training frame; passes
        // straight through as the features column
        stages += new SQLTransformer().setStatement(
          s"SELECT *, `${featureNames.head}` AS features FROM __THIS__")
        featureNames
      } else if (alg.textPipeline) {
        require(featureNames.size == 1,
          s"${spec.algorithm} expects exactly one text feature column")
        val textCol = featureNames.head
        stages += new org.apache.spark.ml.feature.Tokenizer()
          .setInputCol(textCol).setOutputCol("_tokens")
        stages += new org.apache.spark.ml.feature.HashingTF()
          .setInputCol("_tokens").setOutputCol("_tf").setNumFeatures(1 << 14)
        stages += new org.apache.spark.ml.feature.IDF()
          .setInputCol("_tf").setOutputCol("features")
        Seq(textCol)
      } else {
        val cols = featureNames.map(fn => if (categorical(fn)) s"${fn}_idx" else fn)
        val assembled = if (needScale) "features_raw" else "features"
        stages += new VectorAssembler().setInputCols(cols.toArray)
          .setOutputCol(assembled).setHandleInvalid("keep")
        if (needScale)
          stages += new StandardScaler().setInputCol("features_raw")
            .setOutputCol("features").setWithMean(true).setWithStd(true)
        cols
      }

    val est = alg.make()
    // neural_network(layers=[...]) gives HIDDEN sizes (DSL.md:47-48); the
    // full MLP spec is input-size +: hidden :+ num-classes, so the raw
    // param can't go through set() (its validator wants length >= 2)
    val (mlpHidden, applicableParams) = est match {
      case _: MultilayerPerceptronClassifier =>
        val hidden = spec.params.collectFirst {
          case ("layers", Value.VList(xs)) => xs.map {
            case Value.VInt(i) => i.toInt
            case Value.VFloat(f) if f.isWhole => f.toInt
            case other => throw new IllegalArgumentException(
              s"layers entries must be integers, got $other")
          }
        }
        (hidden, spec.params.filterNot(_._1 == "layers"))
      case _ => (None, spec.params)
    }
    // prophet stand-in param routing (SURVEY §7.3): `seasonality` /
    // `changepoints` / `growth` BIND in the frame builder (extra Fourier
    // granularities / trend hinges / trend-shape validation) and are
    // consumed here — never sent to the estimator; `holidays` binds in
    // BOTH its forms (literal ISO-date list, or a bare name resolving a
    // registered calendar view — per-date indicator basis either way).
    // Misuse fails loud.
    val boundHolidays = TrainCompiler.holidayDates(spec).isDefined
    val cpPrior = TrainCompiler.changepointPriorScale(spec)
    val consumedParams: Set[String] =
      if (alg.name == "prophet")
        Set("seasonality", "changepoints", "growth",
          "changepoint_prior_scale") ++
          (if (boundHolidays) Set("holidays") else Set.empty[String])
      else Set.empty
    if (alg.name == "prophet") {
      spec.params.collectFirst { case ("growth", v) => v }.foreach {
        case Value.VStr("linear") => ()
        case other => throw new IllegalArgumentException(
          s"prophet stand-in supports growth='linear' only (got $other): " +
            "logistic/flat growth needs a saturating-capacity trend the " +
            "regression stand-in cannot express")
      }
      if (TrainCompiler.changepointCount(spec).isDefined &&
          !spec.timeSeries.exists(_.trend.contains("linear")))
        throw new IllegalArgumentException(
          "prophet changepoints=k shape the linear trend: add WITH TIME " +
            "COLUMN ... AND FEATURES(TREND linear) to the statement")
      if (spec.params.exists(_._1 == "seasonality") && spec.timeSeries.isEmpty)
        throw new IllegalArgumentException(
          "prophet seasonality=[...] derives Fourier features from the " +
            "time column: add WITH TIME COLUMN to the statement")
      if (boundHolidays && spec.timeSeries.isEmpty)
        throw new IllegalArgumentException(
          "prophet holidays=[dates] derives indicator features from the " +
            "time column: add WITH TIME COLUMN to the statement")
      if (cpPrior.isDefined) {
        if (TrainCompiler.changepointCount(spec).isEmpty)
          throw new IllegalArgumentException(
            "prophet changepoint_prior_scale tunes the changepoint trend " +
              "deltas: add changepoints=k (k > 0) to the statement")
        if (needScale)
          throw new IllegalArgumentException(
            "prophet changepoint_prior_scale binds through the hinge " +
              "feature scale (ridge-by-rescaling), which a scale() " +
              "standardization stage would undo — drop scale() from the " +
              "FEATURES clause or the prior-scale param")
      }
    }
    AlgorithmRegistry.applyParams(est,
      applicableParams.filterNot(p =>
        alg.noopParams(p._1) || consumedParams(p._1)))
    configure(est, alg.task, weightCol, seed)
    // changepoint_prior_scale=tau BINDS (since r12): the hinge basis is
    // pre-scaled by tau (TimeSeries.withChangepoints), so with solver-side
    // standardization OFF and a global L2 lambda the per-hinge effective
    // ridge is lambda/tau^2 — only the trend deltas stiffen as tau
    // shrinks, while the unscaled season/trend columns see just the
    // negligible global term. Standardization MUST be off here: MLlib's
    // internal per-feature std-divide would cancel the tau scaling and
    // return the knob to inert. An explicit user `regularization` wins
    // over the default lambda.
    if (cpPrior.isDefined) est match {
      case lr: org.apache.spark.ml.regression.LinearRegression =>
        lr.setStandardization(false)
        val userReg = spec.params.exists(p =>
          p._1 == "regularization" || p._1 == "reg_param")
        if (!userReg) lr.setRegParam(ChangepointPriorBaseLambda)
      case _ => () // prophet resolves to LinearRegression; defensive only
    }
    est match {
      case mlp: MultilayerPerceptronClassifier =>
        val hidden = mlpHidden.getOrElse(List(8)).toArray
        val nClasses = trainDf.select(spec.target).distinct().count().toInt
        // input width = actual feature-vector dimension, which is NOT the
        // column count for vector-feature (embedding dim) or text-pipeline
        // (HashingTF width) inputs
        val inputDim =
          if (vectorFeature)
            df0.select(featureNames.head).head()
              .getAs[org.apache.spark.ml.linalg.Vector](0).size
          else if (alg.textPipeline) 1 << 14
          else featureCols.size
        mlp.setLayers(inputDim +: hidden :+ math.max(nClasses, 2))
      case _ =>
    }

    def pipelineWith(maxIter: Option[Int]): Pipeline = {
      maxIter.foreach { it =>
        alg.iterParam.foreach(p => est.set(est.getParam(p), it))
      }
      new Pipeline().setStages((stages.result() :+ est.asInstanceOf[PipelineStage]).toArray)
    }

    val evaluator = Evaluation.evaluatorFor(alg.task, spec.optimizeMetric)

    // O3: VALIDATE USING cv(folds=k) → CrossValidator over the pipeline
    val useCv = spec.validate.exists(v =>
      v.method.exists(m => m == "cv" || m == "cross_validation"))

    var checkpoints = List.empty[String]
    var epochs = 0
    var cvMetric = Option.empty[(String, Double)]
    val model: PipelineModel =
      if (useCv) {
        val folds = spec.validate.flatMap(_.params).flatMap(_.collectFirst {
          case ("folds", Value.VInt(k)) => k.toInt
          case ("folds", Value.VFloat(k)) if k.isWhole => k.toInt
        }).getOrElse(3)
        val cv = new CrossValidator()
          .setEstimator(pipelineWith(None))
          .setEvaluator(evaluator)
          .setEstimatorParamMaps(new ParamGridBuilder().build())
          .setNumFolds(folds)
          .setSeed(seed)
        val fitted = cv.fit(trainDf)
        // one param map: its metric averaged over the folds
        cvMetric = Some(s"cv_${Evaluation.metricKey(evaluator)}" -> fitted.avgMetrics(0))
        fitted.bestModel.asInstanceOf[PipelineModel]
      } else spec.stopCondition match {
        // O5: STOP WHEN — chunked fitting loop over the iteration param
        case Some(condText) if alg.iterParam.isDefined =>
          val cond = StopCondition.parse(condText)
          // The checkpoint interval doubles as the epoch chunk size only
          // when its unit is epoch-like; time-based units ("EVERY 2 hours")
          // are checkpoint metadata, not a fitting cadence.
          val epochUnits = Set("epoch", "epochs", "iteration", "iterations")
          val chunk = spec.checkpoint
            .filter(_.unit.forall(u => epochUnits(u.toLowerCase)))
            .map(_.interval.toInt).getOrElse(10)
          val maxChunks = 20
          var fitted: PipelineModel = null
          var stop = false
          var i = 0
          while (!stop && i < maxChunks) {
            i += 1
            epochs = chunk * i
            fitted = pipelineWith(Some(epochs)).fit(trainDf)
            spec.checkpoint.zip(checkpointDir).foreach { case (c, dir) =>
              // epoch-like units gate on the interval; time-based units
              // save once per chunk (their cadence is wall-clock metadata)
              val due = if (c.unit.forall(u => epochUnits(u.toLowerCase)))
                epochs % c.interval == 0
              else true
              if (due) {
                val p = s"$dir/${spec.name}/epoch_$epochs"
                fitted.write.overwrite().save(p)
                checkpoints = checkpoints :+ p
              }
            }
            val evalOn = evalDf.getOrElse(trainDf)
            val m = Evaluation.computeMetrics(fitted.transform(evalOn), alg.task) +
              ("epochs" -> epochs.toDouble)
            stop = cond.eval(m)
          }
          fitted
        case _ =>
          val fitted = pipelineWith(None).fit(trainDf)
          // O7 without a stop loop: single end-of-training checkpoint
          spec.checkpoint.zip(checkpointDir).foreach { case (_, dir) =>
            val p = s"$dir/${spec.name}/final"
            fitted.write.overwrite().save(p)
            checkpoints = checkpoints :+ p
          }
          fitted
      }

    // Metrics: VALIDATE ON table > validation/test split > training data
    val metricsFrame = spec.validate.flatMap(_.on) match {
      case Some(table) => spark.table(table)
      case None        => evalDf.getOrElse(trainDf)
    }
    val metrics = Evaluation.computeMetrics(model.transform(metricsFrame), alg.task) ++
      (if (epochs > 0) Map("epochs" -> epochs.toDouble) else Map.empty) ++ cvMetric

    TrainReport(spec, model, metrics, epochs, checkpoints,
      // a name given twice counts its last part, as a map of the parts
      parts.map(_._1).zip(partCounts).toMap,
      // a param that BOUND this run (list-form holidays) is not inert
      ignoredParams = spec.params.map(_._1)
        .filter(n => alg.noopParams(n) && !consumedParams(n)))
  }

  /** Training DataFrame with scale() stripped; returns whether any feature
    * requested standardization. A lone Array[Float/Double] feature (an
    * embedding column) is converted to an ML vector here. */
  private def trainingFrame(spark: SparkSession, spec: TrainSpec): (DataFrame, Boolean) = {
    val src = spark.sql(s"SELECT * FROM ${TrainCompiler.sourceFragment(spec)}")
    var needScale = false
    val baseCols = spec.features.zipWithIndex.map { case (f, i) =>
      if (SqlCompiler.isSimpleIdentifier(f)) col(f)
      else {
        val ast = DmlParser.parseFeature(f)
        if (FeatureCompiler.usesScale(ast)) needScale = true
        FeatureCompiler.toColumn(FeatureCompiler.stripScale(ast)).as(s"f${i + 1}")
      }
    }
    val selected = spec.timeSeries match {
      case None => src.select(baseCols :+ src.col(spec.target): _*)
      case Some(_) =>
        TrainCompiler.timeSeriesLayout(src, baseCols, spec)
    }
    val names = TrainCompiler.featureNames(spec)
    val out =
      if (names.size == 1 && isFloatArray(selected, names.head))
        selected.withColumn(names.head,
          org.apache.spark.ml.functions.array_to_vector(col(names.head)))
      else selected
    (out, needScale)
  }

  private def isFloatArray(df: DataFrame, name: String): Boolean =
    df.schema(name).dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        et == org.apache.spark.sql.types.FloatType ||
          et == org.apache.spark.sql.types.DoubleType
      case _ => false
    }

  private def isVectorFeature(df: DataFrame, names: Seq[String]): Boolean =
    names.size == 1 && df.schema(names.head).dataType.typeName == "vector"

  /** The named parts in declared order (one "training" part without a
    * SPLIT clause), the position of the training part, and the
    * evaluation part if there is one. */
  private def split(
      df: DataFrame, spec: TrainSpec, seed: Long)
      : (IndexedSeq[(String, DataFrame)], Int, Option[DataFrame]) =
    spec.split match {
      case None => (Vector("training" -> df), 0, None)
      case Some(s) =>
        val parts = s.ratios.map(_._1)
          .zip(df.randomSplit(s.ratios.map(_._2).toArray, seed)).toVector
        val named = parts.toMap
        val trainDf = named.collectFirst {
          case (k, d) if k.startsWith("train") => d
        }.getOrElse(parts.head._2)
        val evalDf = named.collectFirst {
          case (k, d) if k.startsWith("val") => d
        }.orElse(named.collectFirst { case (k, d) if k.startsWith("test") => d })
        (parts, parts.indexWhere(_._2 eq trainDf), evalDf)
    }

  /** Each part's row count and, over the training part, each of the
    * `indexed` string columns' sorted non-NULL values, from ONE observed
    * noop write over the parts tagged with their position (no shuffle;
    * each part's sample is the same as on its own, so the counts equal
    * per-part `count()`s). The values are what `StringIndexer.fit` with
    * `alphabetAsc` collects and sorts: `collect_set` per column, NULLs
    * dropped, sorted as JVM strings. */
  private def observeSplits(parts: Seq[DataFrame], train: Int, indexed: Seq[String])
      : (Seq[Long], Seq[Array[String]]) = {
    val tag = col("part")
    val tagged = parts.zipWithIndex.map { case (d, i) =>
      d.select(lit(i).as("part") +: indexed.zipWithIndex.map { case (c, j) => col(c).as(s"c$j") }: _*)
    }.reduce(_ unionAll _)
    val counts = parts.indices.map(i => count_if(tag === i).as(s"n$i"))
    val sets = indexed.indices.map(j =>
      collect_set(when(tag === train, col(s"c$j"))).as(s"labels$j"))
    val seen = Observation()
    val metrics = counts ++ sets
    tagged.observe(seen, metrics.head, metrics.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = seen.get
    (parts.indices.map(i => m(s"n$i").asInstanceOf[Long]),
      indexed.indices.map(j => m(s"labels$j").asInstanceOf[scala.collection.Seq[String]]
        .filter(_ != null).sorted.toArray))
  }

  private def configure(
      est: Params, task: Task, weightCol: Option[String], seed: Long): Unit = {
    def trySet(p: String, v: Any): Unit =
      if (est.hasParam(p) && !est.isSet(est.getParam(p)))
        est.set(est.getParam(p).asInstanceOf[org.apache.spark.ml.param.Param[Any]], v)
    trySet("featuresCol", "features")
    if (task != Clustering) trySet("labelCol", "label")
    trySet("seed", seed)
    weightCol.foreach(w => trySet("weightCol", w))
  }

  /** Test hooks: the balancing ops on their own. */
  private[runtime] def oversampleForTest(
      df: DataFrame, target: String, seed: Long): DataFrame =
    Balance.oversample(df, target, seed)

  private[runtime] def undersampleForTest(
      df: DataFrame, target: String, seed: Long): DataFrame =
    Balance.undersample(df, target, seed)

  /** O6 balancing, all seeded and shuffle-free (per-class Bernoulli
    * sampling; only the class-count map is collected). Class i's sample
    * is seeded `seed + i` in SORTED class order (by the class value's
    * string form, NULL first) — never in the collected count rows' order,
    * which follows the shuffle layout (partition count, AQE) — so the
    * balanced rows do not depend on the layout. */
  private object Balance {
    /** Rows per class, as one `countByValue` job. Grouping counts -0.0
      * with 0.0; adding 0.0 to a floating-point class does the same
      * before the values are compared as JVM objects. */
    private def counts(df: DataFrame, target: String): Map[Any, Long] = {
      val dt = df.schema(target).dataType
      val cls = dt match {
        case FloatType | DoubleType => col(target) + lit(0.0).cast(dt)
        case _ => col(target)
      }
      df.select(cls).rdd.map(_.get(0)).countByValue().toMap
    }

    /** (class, count, per-class seed), in sorted class order. */
    private def seeded(cs: Map[Any, Long], seed: Long): Seq[(Any, Long, Long)] =
      cs.toSeq.sortBy { case (cls, _) => Option(cls).map(_.toString) }
        .zipWithIndex.map { case ((cls, n), i) => (cls, n, seed + i) }

    def oversample(df: DataFrame, target: String, seed: Long): DataFrame = {
      val cs = counts(df, target)
      val max = cs.values.max.toDouble
      seeded(cs, seed).map { case (cls, n, s) =>
        val part = df.filter(col(target) <=> lit(cls))
        val frac = max / n
        if (frac <= 1.0) part else part.sample(withReplacement = true, frac, s)
      }.reduce(_ unionAll _)
    }

    def undersample(df: DataFrame, target: String, seed: Long): DataFrame = {
      val cs = counts(df, target)
      val min = cs.values.min.toDouble
      seeded(cs, seed).map { case (cls, n, s) =>
        val part = df.filter(col(target) <=> lit(cls))
        if (n <= min) part
        else part.sample(withReplacement = false, min / n, s)
      }.reduce(_ unionAll _)
    }

    def weighted(df: DataFrame, target: String): DataFrame = {
      val cs = counts(df, target)
      val total = cs.values.sum.toDouble
      val k = cs.size
      // small when-chain over bounded class cardinality — no join needed
      val w = cs.foldLeft(lit(1.0)) { case (acc, (cls, n)) =>
        when(col(target) <=> lit(cls), lit(total / (k * n))).otherwise(acc)
      }
      df.withColumn("class_weight", w)
    }
  }
}
