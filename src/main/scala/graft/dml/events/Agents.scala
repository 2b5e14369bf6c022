package graft.dml.events

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dml.{TrainSpec, Value}
import graft.dml.runtime.{Evaluation, Trainer}

/** Autonomous agents (SURVEY §2.1 S7): hyperparameter search, drift
  * monitoring; plus ensembles (S8) and A/B traffic split (S9).
  *
  * The reference's HPO agent is a 50-trial Bayesian search
  * (reference/AGENTS.md:110-119); seeded random search stands in (SURVEY
  * §7.3) — trials are independent fits, embarrassingly parallel on a
  * cluster. Early stopping (patience) lives in the Trainer's STOP WHEN
  * loop.
  */
object Agents {

  /** Thrown by [[explainRows]] for model families its deterministic
    * exact/Saabas walks don't cover — a TYPED signal so the DSL
    * dispatcher's kernel-SHAP fallback can't drift out of sync with a
    * reworded message. */
  final class UnsupportedExplainModel(msg: String)
    extends IllegalArgumentException(msg)

  final case class Trial(params: List[(String, Value)], metrics: Map[String, Double])

  /** Search-space dimensions per reference/AGENTS.md:110-117:
    * `{"type": "log_uniform", "low": …, "high": …}`,
    * `{"type": "uniform", …}`, `{"type": "choice", "values": […]}`. */
  sealed trait ParamSpace
  object ParamSpace {
    final case class Uniform(low: Double, high: Double) extends ParamSpace {
      require(high > low, "uniform space needs high > low")
    }
    final case class LogUniform(low: Double, high: Double) extends ParamSpace {
      require(low > 0 && high > low, "log_uniform space needs 0 < low < high")
    }
    final case class Choice(values: List[Value]) extends ParamSpace {
      require(values.nonEmpty, "choice space needs at least one value")
    }
  }

  private def toDouble(v: Value): Double = v match {
    case Value.VInt(i)   => i.toDouble
    case Value.VFloat(f) => f
    case other => throw new IllegalArgumentException(
      s"non-numeric param value: $other")
  }

  private def samplePrior(ps: ParamSpace, rng: scala.util.Random): Value =
    ps match {
      case ParamSpace.Uniform(lo, hi) =>
        Value.VFloat(lo + rng.nextDouble() * (hi - lo))
      case ParamSpace.LogUniform(lo, hi) =>
        // clamp after exp: exp(log(hi)) can land an ulp outside the bound
        Value.VFloat(math.min(hi, math.max(lo, math.exp(
          math.log(lo) + rng.nextDouble() * (math.log(hi) - math.log(lo))))))
      case ParamSpace.Choice(vs) => vs(rng.nextInt(vs.size))
    }

  private def gaussPdf(x: Double, mu: Double, sigma: Double): Double =
    math.exp(-0.5 * math.pow((x - mu) / sigma, 2)) /
      (sigma * math.sqrt(2 * math.Pi))

  /** 1-D Parzen mixture over observations in [lo, hi]: one Gaussian per
    * observation (bandwidth shrinking with the observation count) plus a
    * uniform prior component for exploration — the density estimator TPE
    * builds for its good and bad trial sets (Bergstra et al. 2011). */
  private final case class Parzen(lo: Double, hi: Double, centers: Seq[Double]) {
    private val bw =
      math.max((hi - lo) / math.sqrt(centers.size + 2.0), 1e-12)
    def pdf(x: Double): Double = {
      val prior = 1.0 / (hi - lo)
      (centers.map(c => gaussPdf(x, c, bw)).sum + prior) / (centers.size + 1)
    }
    def sample(rng: scala.util.Random): Double = {
      val i = rng.nextInt(centers.size + 1)
      val raw =
        if (i == centers.size) lo + rng.nextDouble() * (hi - lo)
        else centers(i) + rng.nextGaussian() * bw
      math.min(hi, math.max(lo, raw))
    }
  }

  /** Draw in a (possibly log-transformed) numeric dimension: sample
    * candidates from the good-trials density l, keep the one maximizing
    * l(x)/g(x) — TPE's expected-improvement surrogate. */
  private def numericDraw(
      lo: Double, hi: Double, goodObs: Seq[Double], badObs: Seq[Double],
      nCandidates: Int, rng: scala.util.Random): Double = {
    val l = Parzen(lo, hi, goodObs)
    val g = Parzen(lo, hi, badObs)
    Seq.fill(nCandidates)(l.sample(rng))
      .maxBy(x => math.log(l.pdf(x)) - math.log(g.pdf(x)))
  }

  /** One TPE proposal from the trial history: split trials best-first at
    * the γ quantile, model each dimension independently (hyperopt's
    * factorization), and pick the value maximizing the good/bad density
    * ratio — categorical dimensions use Laplace-smoothed count ratios. */
  private def tpeDraw(
      names: Seq[String], space: Map[String, ParamSpace],
      history: Seq[Trial], metric: String, maximize: Boolean,
      gamma: Double, nCandidates: Int, rng: scala.util.Random)
      : List[(String, Value)] = {
    val scored = rankTrials(
      history.filter(_.metrics.contains(metric)), metric, maximize)
    val nGood = math.max(1, math.ceil(gamma * scored.size).toInt)
    val (good, bad) = scored.splitAt(nGood)
    names.map { n =>
      def obs(ts: Seq[Trial]): Seq[Value] =
        ts.flatMap(_.params.collectFirst { case (`n`, v) => v })
      val v: Value = space(n) match {
        case ParamSpace.Choice(vs) =>
          val goodObs = obs(good); val badObs = obs(bad)
          val gc = goodObs.groupBy(identity).view.mapValues(_.size).toMap
          val bc = badObs.groupBy(identity).view.mapValues(_.size).toMap
          vs.maxBy { cand =>
            val pl = (gc.getOrElse(cand, 0) + 1.0) / (goodObs.size + vs.size)
            val pg = (bc.getOrElse(cand, 0) + 1.0) / (badObs.size + vs.size)
            pl / pg
          }
        case ParamSpace.Uniform(lo, hi) =>
          Value.VFloat(numericDraw(lo, hi,
            obs(good).map(toDouble), obs(bad).map(toDouble),
            nCandidates, rng))
        case ParamSpace.LogUniform(lo, hi) =>
          Value.VFloat(math.min(hi, math.max(lo, math.exp(numericDraw(
            math.log(lo), math.log(hi),
            obs(good).map(x => math.log(toDouble(x))),
            obs(bad).map(x => math.log(toDouble(x))),
            nCandidates, rng)))))
      }
      n -> v
    }.toList
  }

  /** Tree-structured Parzen Estimator search (the reference's "Bayesian
    * optimization" sampler, AGENTS.md:110-128): `nStartup` random trials
    * seed the history, then each proposal maximizes the good/bad Parzen
    * density ratio. The loop is driver-side bookkeeping over tiny trial
    * records — every `objective` call (a model fit) remains the fully
    * distributed path, exactly as the reference's agent publishes
    * training.start events per trial. Returns trials best-first. */
  def tpeSearch(
      space: Map[String, ParamSpace],
      objective: List[(String, Value)] => Map[String, Double],
      metric: String,
      trials: Int = 50,
      maximize: Boolean = true,
      seed: Long = 42L,
      nStartup: Int = 10,
      gamma: Double = 0.25,
      nCandidates: Int = 24): Seq[Trial] = {
    require(trials > 0, "trials must be positive")
    val rng = new scala.util.Random(seed)
    val names = space.keys.toSeq.sorted
    val history = scala.collection.mutable.ArrayBuffer.empty[Trial]
    (0 until trials).foreach { t =>
      val params =
        if (t < nStartup ||
          history.count(_.metrics.contains(metric)) < 2)
          names.map(n => n -> samplePrior(space(n), rng)).toList
        else
          tpeDraw(names, space, history.toSeq, metric, maximize,
            gamma, nCandidates, rng)
      history += Trial(params, objective(params))
    }
    rankTrials(history.toSeq, metric, maximize)
  }

  /** CREATE AGENT … hyperparameter_optimization with the Bayesian sampler:
    * [[tpeSearch]] over model fits (AGENTS.md's 50-trial budget is the
    * default). The seeded random [[hyperparameterSearch]] stays as the
    * grid-space fallback. */
  def hyperparameterSearchBayes(
      spark: SparkSession,
      spec: TrainSpec,
      space: Map[String, ParamSpace],
      trials: Int = 50,
      metric: String = "accuracy",
      maximize: Boolean = true,
      seed: Long = 42L): Seq[Trial] = {
    val names = space.keys.toSet
    tpeSearch(space, params => {
      val merged = spec.copy(params = spec.params.filterNot(p =>
        names.contains(p._1)) ++ params)
      Trainer.train(spark, merged, seed = seed).metrics
    }, metric, trials, maximize, seed)
  }

  /** CREATE AGENT … hyperparameter_optimization: seeded random search over
    * a param grid; returns trials sorted by the target metric (best
    * first). */
  def hyperparameterSearch(
      spark: SparkSession,
      spec: TrainSpec,
      space: Map[String, Seq[Value]],
      trials: Int = 8,
      metric: String = "accuracy",
      maximize: Boolean = true,
      seed: Long = 42L): Seq[Trial] = {
    val rng = new scala.util.Random(seed)
    val names = space.keys.toSeq.sorted
    val configs = (0 until trials).map { _ =>
      names.map(n => n -> space(n)(rng.nextInt(space(n).size))).toList
    }.distinct
    val results = configs.map { params =>
      val merged = spec.copy(params = spec.params.filterNot(p =>
        names.contains(p._1)) ++ params)
      Trial(params, Trainer.train(spark, merged, seed = seed).metrics)
    }
    rankTrials(results, metric, maximize)
  }

  /** Rank trials best-first on the target metric. A trial that didn't
    * produce the metric — or produced NaN — can never win (NaN sorts above
    * every real under Ordering[Double], so it must be mapped to the worst
    * sentinel explicitly). */
  def rankTrials(results: Seq[Trial], metric: String, maximize: Boolean): Seq[Trial] = {
    val worst = if (maximize) Double.NegativeInfinity else Double.PositiveInfinity
    results.sortBy { t =>
      val v = t.metrics.getOrElse(metric, worst)
      if (v.isNaN) worst else v
    }(if (maximize) Ordering[Double].reverse else Ordering[Double])
  }

  /** Convergence/early-stop agent (reference AGENTS.md:59-90, patience=3):
    * chunked training that stops after `patience` evaluations without
    * improvement on the target metric; returns the best report and the
    * total epochs spent. */
  def earlyStopTrain(
      spark: SparkSession,
      spec: TrainSpec,
      metric: String = "accuracy",
      patience: Int = 3,
      chunk: Int = 10,
      maxChunks: Int = 20,
      minDelta: Double = 1e-6,
      seed: Long = 42L): (Trainer.TrainReport, Int) = {
    val iterNames = Set("max_iter", "iterations", "epochs", "n_estimators")
    var best = Double.NegativeInfinity
    var bestReport: Trainer.TrainReport = null
    var wait = 0
    var epochs = 0
    var i = 0
    while (wait < patience && i < maxChunks) {
      i += 1
      epochs = chunk * i
      val chunked = spec.copy(
        params = spec.params.filterNot(p => iterNames(p._1)) :+
          ("max_iter" -> (Value.VInt(epochs): Value)),
        stopCondition = None)
      val report = Trainer.train(spark, chunked, seed = seed)
      val m = report.metrics.getOrElse(metric,
        throw new IllegalArgumentException(s"metric '$metric' not produced"))
      if (m > best + minDelta) { best = m; bestReport = report; wait = 0 }
      else wait += 1
    }
    (bestReport, epochs)
  }

  /** MONITOR MODEL FOR drift_detection (S11): per-feature standardized mean
    * shift between a reference window and a current window, computed with
    * decimal-exact sums (deterministic) in ONE aggregate pass over both
    * sides, grouped by side. Each side's per-row terms are computed before
    * the union, so the sums, squares and counts are exactly those of an
    * aggregate over that side alone. */
  def driftScores(
      reference: DataFrame, current: DataFrame,
      features: Seq[String]): Map[String, Double] = {
    def terms(df: DataFrame, side: Int): DataFrame =
      df.select(lit(side).as("_side") +: features.flatMap { f =>
        Seq(
          col(f).cast("decimal(28,8)").as(s"${f}_v"),
          (col(f) * col(f)).cast("decimal(28,8)").as(s"${f}_sq"),
          col(f).isNotNull.as(s"${f}_nn"))
      }: _*)
    val aggs = features.flatMap { f =>
      Seq(
        sum(col(s"${f}_v")).cast("double").as(s"${f}_sum"),
        sum(col(s"${f}_sq")).cast("double").as(s"${f}_sq"),
        count_if(col(s"${f}_nn")).as(s"${f}_n"))
    }
    val rows = terms(reference, 0).unionAll(terms(current, 1))
      .groupBy("_side").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    // a side with no rows has no group: its sums read as 0 and n as 0, as
    // an ungrouped aggregate over the empty side would give
    def stats(side: Int): Map[String, (Double, Double)] =
      features.map { f =>
        val (s, sq, n) = rows.get(side).fold((0.0, 0.0, 0L)) { row =>
          (row.getAs[Double](s"${f}_sum"), row.getAs[Double](s"${f}_sq"),
            row.getAs[Long](s"${f}_n"))
        }
        f -> (s / n, math.sqrt(math.max(sq / n - (s / n) * (s / n), 1e-12)))
      }.toMap
    val ref = stats(0)
    val cur = stats(1)
    features.map { f =>
      val (m0, sd0) = ref(f)
      val (m1, _) = cur(f)
      f -> math.abs(m1 - m0) / sd0
    }.toMap
  }

  /** Population Stability Index between a reference and a current slice
    * of `valueCol`, per `groupCols` group — the standard production drift
    * metric ([[driftScores]]' mean/σ shift misses shape changes PSI
    * catches; PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 drifted).
    * Values bin by fixed `binWidth` clamped into [0, nBins-1] (negative
    * values land in bin 0, not a phantom negative bin); NULL values carry
    * no distribution information and are dropped rather than silently
    * miscounted in the top bin (Spark's `least` skips NULLs). Counts are
    * Laplace-smoothed ((c+1)/(n+nBins)) so empty bins never divide by
    * zero, and per-bin contributions are rounded then summed as
    * DECIMAL(18,6) — deterministic at any partitioning, DuckDB-replayable.
    *
    * A group present on only ONE side — a brand-new or vanished
    * event_type, i.e. maximal drift — yields psi = +∞ (with n_bins
    * counting the side that exists) instead of being dropped by an inner
    * totals join: a drift monitor must never omit the most-drifted group.
    *
    * Plan shape: ONE count aggregation per side keyed by (group, bin)
    * — the only passes over event rows — then a full-outer bin join
    * (bins absent from both sides contribute exactly 0 and need no
    * row) with the per-group totals as windows over the joined
    * (groups × bins)-bounded relation. Totals as separate `.agg`
    * relations here would replay each side's event scan (ScanMeter
    * measured 4 event passes where 2 suffice); a group total is 0 iff
    * the group is absent from that side (every present bin counts
    * ≥ 1), which keys the one-sided → +∞ rule. */
  def psiDrift(
      reference: DataFrame, current: DataFrame, valueCol: String,
      groupCols: Seq[String], binWidth: Double, nBins: Int): DataFrame = {
    require(binWidth > 0 && nBins > 1, "binWidth > 0 and nBins > 1 required")
    val g = groupCols.map(col)
    def binned(df: DataFrame, side: String): DataFrame =
      df.filter(col(valueCol).isNotNull)
        .select((g :+
          least(greatest(floor(col(valueCol) / binWidth).cast("int"), lit(0)),
            lit(nBins - 1)).as("bin")): _*)
        .groupBy((g :+ col("bin")): _*)
        .agg(count(lit(1)).as(s"c_$side"))
    val wG = Window.partitionBy(g: _*)
    val p = (col("c_ref") + 1).cast("double") /
      (col("n_ref") + nBins).cast("double")
    val q = (col("c_cur") + 1).cast("double") /
      (col("n_cur") + nBins).cast("double")
    binned(reference, "ref")
      .join(binned(current, "cur"), groupCols :+ "bin", "full_outer")
      .na.fill(0L, Seq("c_ref", "c_cur"))
      .withColumn("n_ref", sum("c_ref").over(wG))
      .withColumn("n_cur", sum("c_cur").over(wG))
      .withColumn("_contrib",
        when(col("n_ref") === 0 || col("n_cur") === 0, lit(null))
          .otherwise(round((p - q) * log(p / q), 6).cast("decimal(18,6)")))
      .groupBy(g: _*)
      .agg(
        when(max((col("n_ref") === 0).cast("int")) === 1 ||
          max((col("n_cur") === 0).cast("int")) === 1,
          lit(Double.PositiveInfinity))
          .otherwise(sum("_contrib").cast("double")).as("psi"),
        count(lit(1)).as("n_bins"))
  }

  /** Drift agent: evaluates scores and publishes an alert event per
    * drifted feature (WHEN drift > threshold THEN PUBLISH, DSL.md:346-351),
    * all of one check's alerts in one event-log append. */
  def driftAgent(
      bus: EventBus,
      reference: DataFrame, current: DataFrame,
      features: Seq[String], threshold: Double = 0.5): Map[String, Double] = {
    val scores = driftScores(reference, current, features)
    bus.publishAll(features.distinct.filter(scores(_) > threshold).map(f =>
      "drift_alert" -> Map("feature" -> f, "score" -> scores(f).toString)))
    scores
  }

  /** CREATE ENSEMBLE … COMBINE MODELS (m WEIGHT w, …) USING
    * weighted_average (S8): weighted sum of per-model prediction columns.
    * Each model transform is one pass; the combine is Column arithmetic. */
  def weightedEnsemble(
      models: Seq[(org.apache.spark.ml.PipelineModel, Double)],
      data: DataFrame): DataFrame = {
    require(models.nonEmpty, "ensemble needs at least one model")
    val total = models.map(_._2).sum
    var out = data
    models.zipWithIndex.foreach { case ((m, _), i) =>
      // drop EVERY column this model's stages added (indexer/tokenizer
      // intermediates included) except its renamed prediction, so the next
      // model's transform can't collide on stage output names
      val before = out.columns.toSet
      val transformed = m.transform(out)
      val added = transformed.columns.filter(c =>
        !before.contains(c) && c != "prediction")
      out = transformed
        .withColumnRenamed("prediction", s"pred_$i")
        .drop(added.toIndexedSeq: _*)
    }
    val combined = models.zipWithIndex
      .map { case ((_, w), i) => col(s"pred_$i") * (w / total) }
      .reduce(_ + _)
    out.withColumn("ensemble_prediction", combined)
  }

  /** DEPLOY MODELS (a, b) … TRAFFIC SPLIT a=pct, b=rest (S9): deterministic
    * hash routing on a key column — reproducible assignment, no RNG. */
  def trafficSplit(
      data: DataFrame, keyCol: String,
      arms: Seq[(String, Int)]): DataFrame = {
    require(arms.map(_._2).sum == 100, "traffic split must sum to 100")
    val bucket = pmod(xxhash64(col(keyCol)), lit(100))
    val (routed, _) = arms.foldLeft((lit(null).cast("string"), 0)) {
      case ((acc, offset), (arm, pct)) =>
        (when(bucket >= offset && bucket < offset + pct, lit(arm)).otherwise(acc),
          offset + pct)
    }
    data.withColumn("arm", routed)
  }

  /** AUTO PROMOTE (S9 tail): evaluate each arm's model on its routed
    * traffic slice and deploy the winner to the registry endpoint. Returns
    * (winning arm, per-arm metric map). */
  def autoPromote(
      registry: graft.dml.runtime.ModelRegistry,
      routed: DataFrame,
      arms: Map[String, (String, org.apache.spark.ml.PipelineModel)],
      endpoint: String,
      metric: String = "accuracy"): (String, Map[String, Double]) = {
    val scores = arms.map { case (arm, (_, model)) =>
      val slice = routed.filter(col("arm") === arm)
      arm -> graft.dml.runtime.Evaluation
        .evaluateModel(model, slice, Seq(metric))
        .getOrElse(metric, Double.NegativeInfinity)
    }
    val winner = scores.maxBy(_._2)._1
    registry.deploy(arms(winner)._1, endpoint)
    (winner, scores)
  }

  /** EXPLAIN PREDICTION (S10): global importances via the fitted model.
    * [[explainRows]] is the per-row path (DSL.md:339-344). */
  def explain(
      model: org.apache.spark.ml.PipelineModel,
      featureNames: Seq[String], topK: Int = 5): Seq[(String, Double)] =
    Evaluation.featureImportance(model, featureNames)
      .toSeq.sortBy(-_._2).take(topK)

  /** EXPLAIN PREDICTION … FOR … USING shap_values SHOW TOP k
    * (DSL.md:339-344): per-row feature contributions.
    *
    *  - Linear models: contribution_j = coef_j · (x_j − mean_j), the exact
    *    decomposition of the prediction's deviation from the batch-mean
    *    baseline (= exact SHAP for a linear model with independent
    *    features). Multinomial logistic uses the predicted class's
    *    coefficient row. Computed as pure Column algebra — coefficients
    *    and means ship as literals, no per-row driver work.
    *  - Tree ensembles (regression): Saabas path contributions — walking
    *    each tree, a split on feature j moves the running expected value
    *    from parent to child and that delta is j's contribution; summed
    *    over trees with the ensemble's weights. The walk needs the tree
    *    structure per row, so it is a UDF over the assembled vector — an
    *    explanation batch, not a hot path.
    *
    * Output: the input rows (plus `prediction`) exploded to their `topK`
    * largest-|contribution| features as (feature, contribution, rank). */
  def explainRows(
      model: org.apache.spark.ml.PipelineModel,
      data: DataFrame,
      featureNames: Seq[String],
      topK: Int = 5,
      baseline: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegressionModel
    import org.apache.spark.ml.regression._
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.ml.linalg.{Vector => MlVector}

    val transformed = model.transform(data)
    require(transformed.columns.contains("features"),
      "explainRows needs the pipeline's assembled 'features' column")
    val n = featureNames.size
    val arr = vector_to_array(col("features"))
    // per-feature mean baseline — one tiny aggregate, evaluated only by
    // the linear paths. `baseline` supplies the population frame when
    // `data` is already narrowed (an EXPLAIN ... FOR single row would
    // otherwise be its own baseline and every contribution would be
    // coef·(x − x) = 0).
    lazy val meanRow = baseline.map(model.transform).getOrElse(transformed)
      .agg(array((0 until n).map(j => avg(arr(j))): _*).as("m"))
      .collect()(0).getSeq[Double](0)

    def linearContribs(coefs: IndexedSeq[Double]): Seq[Column] = {
      require(coefs.length == n,
        s"model has ${coefs.length} assembled features but $n names — " +
          "per-row explanation needs one name per assembled feature " +
          "(text-pipeline models hash to 2^18 buckets and are unsupported)")
      (0 until n).map(j => arr(j).minus(meanRow(j)) * coefs(j))
    }

    val contribs: Seq[Column] = model.stages.reverse.collectFirst {
      case m: LinearRegressionModel => linearContribs(m.coefficients.toArray)
      case m: LogisticRegressionModel if m.numClasses == 2 =>
        linearContribs(m.coefficients.toArray)
      case m: LogisticRegressionModel =>
        require(m.coefficientMatrix.numCols == n,
          s"model has ${m.coefficientMatrix.numCols} assembled features " +
            s"but $n names — text-pipeline models are unsupported")
        // predicted class's coefficient row, selected per row
        val rows = (0 until m.numClasses).map(c =>
          (0 until n).map(j => m.coefficientMatrix(c, j)))
        val rowsLit = typedLit(rows.map(_.toSeq))
        val classRow = element_at(rowsLit, col("prediction").cast("int") + 1)
        (0 until n).map(j =>
          (arr(j) - meanRow(j)) * element_at(classRow, j + 1))
      case m: DecisionTreeRegressionModel =>
        treeContribCols(Seq(m.rootNode -> 1.0), n)
      case m: RandomForestRegressionModel =>
        treeContribCols(
          m.trees.map(t => t.rootNode -> 1.0 / m.getNumTrees).toSeq, n)
      case m: GBTRegressionModel =>
        treeContribCols(
          m.trees.zip(m.treeWeights).map { case (t, w) => t.rootNode -> w }
            .toSeq, n)
      // classification trees: the label a leaf predicts is not
      // attributable, but the per-node PROBABILITY of the predicted class
      // (class counts from the impurity stats) is — its parent→child
      // deltas are the per-class Saabas contributions, on the same scale
      // the model's probability output lives on
      case m: org.apache.spark.ml.classification.DecisionTreeClassificationModel =>
        classTreeContribCols(Seq(m.rootNode -> 1.0), n)
      case m: org.apache.spark.ml.classification.RandomForestClassificationModel =>
        classTreeContribCols(
          m.trees.map(t => t.rootNode -> 1.0 / m.getNumTrees).toSeq, n)
      // GBT margin F(x) = Σ wᵗ·treeᵗ(x) of REGRESSION trees: the
      // regression Saabas walk attributes the margin exactly (the class
      // probability is a monotone sigmoid of it)
      case m: org.apache.spark.ml.classification.GBTClassificationModel =>
        treeContribCols(
          m.trees.zip(m.treeWeights).map { case (t, w) => t.rootNode -> w }
            .toSeq, n)
    }.getOrElse(throw new UnsupportedExplainModel(
      "per-row explanation supports linear/logistic models and tree " +
        s"ensembles; got ${model.stages.last.getClass.getSimpleName}"))

    val entries = featureNames.zip(contribs).map { case (f, c) =>
      struct(abs(c).as("m"), lit(f).as("feature"), c.as("contribution"))
    }
    val top = slice(reverse(array_sort(array(entries: _*))), 1,
      math.min(topK, n))
    // drop exactly what the pipeline stages added (indexer intermediates,
    // label cast, vectors) except the prediction — a user column that
    // happens to be named `label` must survive
    val added = transformed.columns
      .filterNot(data.columns.contains).filterNot(_ == "prediction")
    transformed
      .select(col("*"), posexplode(top).as(Seq("_pos", "_e")))
      .select(col("*"), (col("_pos") + 1).cast("int").as("rank"),
        col("_e.feature").as("feature"),
        col("_e.contribution").as("contribution"))
      .drop("_pos" +: "_e" +: added: _*)
  }

  /** Saabas walk over weighted trees as a single UDF column set: returns
    * one contribution Column per feature (the UDF computes the full array
    * once; downstream element_at reads slice it). */
  private def treeContribCols(
      trees: Seq[(org.apache.spark.ml.tree.Node, Double)], n: Int)
      : Seq[Column] = {
    import org.apache.spark.ml.linalg.{Vector => MlVector}
    import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, InternalNode}
    val contribsOf = udf { (v: MlVector) =>
      val out = new Array[Double](n)
      trees.foreach { case (root, w) =>
        var node = root
        while (node.isInstanceOf[InternalNode]) {
          val in = node.asInstanceOf[InternalNode]
          val goLeft = in.split match {
            case cs: ContinuousSplit => v(cs.featureIndex) <= cs.threshold
            case cs: CategoricalSplit =>
              cs.leftCategories.contains(v(cs.featureIndex))
            case other => throw new IllegalStateException(
              s"unknown split type: ${other.getClass}")
          }
          val child = if (goLeft) in.leftChild else in.rightChild
          out(in.split.featureIndex) +=
            w * (child.prediction - node.prediction)
          node = child
        }
      }
      out.toSeq
    }
    val c = contribsOf(col("features"))
    (0 until n).map(j => element_at(c, j + 1))
  }

  /** Per-class Saabas walk for classification trees: each node's
    * predicted-class probability is its class count share
    * (impurityStats(c) / total — the exact quantity
    * RandomForestClassificationModel.predictRaw averages), and a split's
    * contribution is the weighted parent→child probability delta. Summed
    * over an ensemble the contributions reconstruct
    * P(c|x) − baseline, baseline = Σ wᵗ·p_root(c) (identity pinned in
    * EventsSpec). The predicted class varies per row, so the walk reads
    * the `prediction` column the pipeline already produced. */
  private def classTreeContribCols(
      trees: Seq[(org.apache.spark.ml.tree.Node, Double)], n: Int)
      : Seq[Column] = {
    import org.apache.spark.ml.linalg.{Vector => MlVector}
    import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, GraftTreeAccess, InternalNode}
    val contribsOf = udf { (v: MlVector, prediction: Double) =>
      val cls = prediction.toInt
      val out = new Array[Double](n)
      def pOf(node: org.apache.spark.ml.tree.Node): Double = {
        val stats = GraftTreeAccess.nodeStats(node)
        val total = stats.sum
        if (total > 0 && cls < stats.length) stats(cls) / total else 0.0
      }
      trees.foreach { case (root, w) =>
        var node = root
        var p = pOf(node)
        while (node.isInstanceOf[InternalNode]) {
          val in = node.asInstanceOf[InternalNode]
          val goLeft = in.split match {
            case cs: ContinuousSplit => v(cs.featureIndex) <= cs.threshold
            case cs: CategoricalSplit =>
              cs.leftCategories.contains(v(cs.featureIndex))
            case other => throw new IllegalStateException(
              s"unknown split type: ${other.getClass}")
          }
          val child = if (goLeft) in.leftChild else in.rightChild
          val pChild = pOf(child)
          out(in.split.featureIndex) += w * (pChild - p)
          node = child
          p = pChild
        }
      }
      out.toSeq
    }
    val c = contribsOf(col("features"), col("prediction"))
    (0 until n).map(j => element_at(c, j + 1))
  }

  /** EXPLAIN PREDICTION … USING kernel_shap (DSL.md:339-344 names
    * `shap_values`): model-agnostic KernelSHAP (Lundberg & Lee 2017, the
    * weighted-least-squares formulation) against a single background
    * point — the baseline frame's per-feature mean, the same reference
    * the linear-exact path uses, so on a linear model the two decompose
    * identically (pinned in EventsSpec).
    *
    * This is the FALLBACK for model families the deterministic paths in
    * [[explainRows]] don't cover (and an explicit `USING kernel_shap`
    * surface): it only needs a predict function, not model internals.
    * Deliberately DRIVER-SIDE — an explanation batch of ≤ `maxRows`
    * rows, not a data path: each row costs |coalitions| driver predict
    * calls (n ≤ 13 features enumerates all 2ⁿ−2 coalitions exactly and
    * deterministically; larger n samples `coalitionSamples` masks,
    * seeded, sizes allocated by kernel weight with per-size importance
    * correction). Classifiers explain the predicted class's
    * probability; regressors the prediction.
    *
    * Output schema matches [[explainRows]]: input rows + `prediction`
    * exploded to topK (rank, feature, contribution). */
  def kernelShapRows(
      model: org.apache.spark.ml.PipelineModel,
      data: DataFrame,
      featureNames: Seq[String],
      topK: Int = 5,
      baseline: Option[DataFrame] = None,
      coalitionSamples: Int = 4096,
      maxRows: Int = 500,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
    val spark = data.sparkSession
    val transformed = model.transform(data)
    require(transformed.columns.contains("features"),
      "kernelShapRows needs the pipeline's assembled 'features' column")
    val n = featureNames.size
    // collect through a limit so an over-wide FOR clause is caught after
    // maxRows + 1 rows reach the driver, not after the whole table does
    val collected = transformed.limit(maxRows + 1).collect()
    require(collected.length <= maxRows,
      s"kernelShapRows explains at most $maxRows rows per call (got " +
        s"more) — it is a driver-side explanation batch; " +
        "narrow the FOR clause or raise maxRows deliberately")
    if (collected.isEmpty) {
      // preserve the output schema on an empty batch
      val added = transformed.columns
        .filterNot(data.columns.contains).filterNot(_ == "prediction")
      return transformed.drop(added: _*)
        .withColumn("rank", lit(1))
        .withColumn("feature", lit(""))
        .withColumn("contribution", lit(0.0))
        .limit(0)
    }
    val vecSize = collected.head.getAs[MlVector]("features").size
    require(vecSize == n,
      s"model has $vecSize assembled features but $n names — " +
        "per-row explanation needs one name per assembled feature")
    val bg: Array[Double] = baseline.map(model.transform)
      .getOrElse(transformed)
      .agg(array((0 until n).map(j =>
        avg(vector_to_array(col("features"))(j))): _*).as("m"))
      .collect()(0).getSeq[Double](0).toArray

    val lastModel = model.stages.reverse.collectFirst {
      case m: org.apache.spark.ml.PredictionModel[MlVector @unchecked, _] => m
    }.getOrElse(throw new IllegalArgumentException(
      "kernelShapRows needs a PredictionModel pipeline stage; got " +
        model.stages.last.getClass.getSimpleName))
    def valueFn(cls: Int): MlVector => Double = lastModel match {
      case pm: org.apache.spark.ml.classification
          .ProbabilisticClassificationModel[MlVector @unchecked, _] =>
        v => pm.predictProbability(v)(cls)
      case pm => v => pm.predict(v)
    }

    // coalition masks shared by every row; exact enumeration when
    // feasible, else seeded size-stratified sampling
    val (masks, weights) = kernelMasks(n, coalitionSamples, seed)

    val added = transformed.columns
      .filterNot(data.columns.contains).filterNot(_ == "prediction")
    val keepCols = transformed.columns.filterNot(added.contains)
    val keepIdx = keepCols.map(c => transformed.columns.indexOf(c))
    val outSchema = org.apache.spark.sql.types.StructType(
      keepIdx.map(transformed.schema.fields) ++ Seq(
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("feature",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("contribution",
          org.apache.spark.sql.types.DoubleType, nullable = false)))

    val outRows = collected.flatMap { row =>
      val x = row.getAs[MlVector]("features").toArray
      val pred = row.getAs[Double]("prediction")
      val f = valueFn(pred.toInt)
      val v0 = f(Vectors.dense(bg))
      val fx = f(Vectors.dense(x))
      val vals = masks.map { mask =>
        val z = new Array[Double](n)
        var j = 0
        while (j < n) { z(j) = if (mask(j)) x(j) else bg(j); j += 1 }
        f(Vectors.dense(z)) - v0
      }
      val phi = kernelSolve(masks, weights, vals, fx - v0, n)
      val kept = keepIdx.map(row.get).toSeq
      featureNames.zip(phi).sortBy { case (_, c) => -math.abs(c) }
        .take(math.min(topK, n)).zipWithIndex.map { case ((feat, c), i) =>
          org.apache.spark.sql.Row.fromSeq(kept ++ Seq(i + 1, feat, c))
        }
    }
    spark.createDataFrame(
      java.util.Arrays.asList(outRows: _*), outSchema)
  }

  /** Coalition masks + WLS weights. n ≤ 13: all 2ⁿ−2 proper non-empty
    * subsets with the exact Shapley kernel weight
    * (n−1)/(C(n,s)·s·(n−s)) — KernelSHAP is then EXACT wrt the single
    * background point. Larger n: `budget` masks, sizes filled in
    * decreasing-weight order (1, n−1, 2, n−2, …) the way shap's
    * KernelExplainer allocates its budget; a sampled size's masks split
    * that size's TOTAL weight (n−1)/(s·(n−s)) evenly, which keeps the
    * WLS objective an unbiased estimate of the enumerated one. */
  private def kernelMasks(n: Int, budget: Int, seed: Long)
      : (Array[Array[Boolean]], Array[Double]) = {
    def sizeTotalWeight(s: Int): Double = (n - 1).toDouble / (s * (n - s))
    if (n == 1) return (Array.empty, Array.empty)
    if (n <= 13) {
      val count = (1 << n) - 2
      val masks = new Array[Array[Boolean]](count)
      val weights = new Array[Double](count)
      var bits = 1
      var i = 0
      while (bits < (1 << n) - 1) {
        val mask = Array.tabulate(n)(j => (bits & (1 << j)) != 0)
        val s = java.lang.Integer.bitCount(bits)
        // exact kernel weight: (n−1)/(C(n,s)·s·(n−s))
        var binom = 1.0
        var t = 0
        while (t < s) { binom = binom * (n - t) / (t + 1); t += 1 }
        masks(i) = mask
        weights(i) = (n - 1).toDouble / (binom * s * (n - s))
        bits += 1
        i += 1
      }
      (masks, weights)
    } else {
      val rng = new scala.util.Random(seed)
      val sizes = (1 to n / 2).flatMap(s =>
        if (s == n - s) Seq(s) else Seq(s, n - s))
      val masksB = Array.newBuilder[Array[Boolean]]
      val sizeOf = Array.newBuilder[Int]
      var remaining = budget
      val it = Iterator.continually(sizes).flatten
      while (remaining > 0) {
        val s = it.next()
        val idx = rng.shuffle((0 until n).toList).take(s)
        val mask = new Array[Boolean](n)
        idx.foreach(mask(_) = true)
        masksB += mask
        sizeOf += s
        remaining -= 1
      }
      val masks = masksB.result()
      val ss = sizeOf.result()
      val perSize = ss.groupBy(identity).map { case (s, g) => s -> g.length }
      val weights = ss.map(s => sizeTotalWeight(s) / perSize(s))
      (masks, weights)
    }
  }

  /** Constrained weighted least squares of the Shapley kernel objective:
    * minimize Σ w_S (v(S) − Σ_j φ_j z_{S,j})² s.t. Σ φ_j = fx − v0,
    * by eliminating the last feature (the standard KernelSHAP solve).
    * `vals` are v(S) − v0; `total` = fx − v0. */
  private def kernelSolve(
      masks: Array[Array[Boolean]], weights: Array[Double],
      vals: Array[Double], total: Double, n: Int): Array[Double] = {
    if (n == 1) return Array(total)
    val k = n - 1
    val A = Array.ofDim[Double](k, k)
    val b = new Array[Double](k)
    var i = 0
    while (i < masks.length) {
      val z = masks(i); val w = weights(i)
      val zk = if (z(k)) 1.0 else 0.0
      val y = vals(i) - zk * total
      val xs = new Array[Double](k)
      var j = 0
      while (j < k) { xs(j) = (if (z(j)) 1.0 else 0.0) - zk; j += 1 }
      var a = 0
      while (a < k) {
        if (xs(a) != 0.0) {
          b(a) += w * xs(a) * y
          var c = 0
          while (c < k) { A(a)(c) += w * xs(a) * xs(c); c += 1 }
        }
        a += 1
      }
      i += 1
    }
    // tiny ridge: sampled mask sets can be rank-deficient; enumeration
    // is full-rank and unaffected at this magnitude
    var d = 0
    while (d < k) { A(d)(d) += 1e-10; d += 1 }
    val phi = gaussSolve(A, b)
    phi :+ (total - phi.sum)
  }

  /** In-place Gaussian elimination with partial pivoting — the systems
    * are (numFeatures−1)², driver-side, tiny. */
  private def gaussSolve(a: Array[Array[Double]], b: Array[Double])
      : Array[Double] = {
    val k = b.length
    var col = 0
    while (col < k) {
      var piv = col
      var r = col + 1
      while (r < k) {
        if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
        r += 1
      }
      if (piv != col) {
        val tmp = a(piv); a(piv) = a(col); a(col) = tmp
        val tb = b(piv); b(piv) = b(col); b(col) = tb
      }
      val p = a(col)(col)
      require(math.abs(p) > 1e-300, "singular kernel SHAP system")
      r = col + 1
      while (r < k) {
        val factor = a(r)(col) / p
        if (factor != 0.0) {
          var c = col
          while (c < k) { a(r)(c) -= factor * a(col)(c); c += 1 }
          b(r) -= factor * b(col)
        }
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](k)
    var row = k - 1
    while (row >= 0) {
      var s = b(row)
      var c = row + 1
      while (c < k) { s -= a(row)(c) * x(c); c += 1 }
      x(row) = s / a(row)(row)
      row -= 1
    }
    x
  }

  /** The ensemble's baseline predicted-class probability — what the
    * per-class Saabas contributions are measured against: Σ wᵗ·p_root(c).
    * Exposed for identity tests and EXPLAIN output consumers. */
  private[graft] def classTreeBaseline(
      trees: Seq[(org.apache.spark.ml.tree.Node, Double)], cls: Int)
      : Double =
    trees.map { case (root, w) =>
      val stats = org.apache.spark.ml.tree.GraftTreeAccess.nodeStats(root)
      val total = stats.sum
      if (total > 0 && cls < stats.length) w * stats(cls) / total else 0.0
    }.sum
}
