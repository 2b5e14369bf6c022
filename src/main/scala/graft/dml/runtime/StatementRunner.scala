package graft.dml.runtime

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dml._
import graft.dml.events.{Agents, EventBus, RuleEngine, WhenRule}

/** Executes every parsed DSL statement against the Spark runtime — the
  * dispatcher that makes the whole surface (TRAIN/COMPUTE plus the
  * design-doc statements, Ast.scala extended section) driveable from text:
  *
  * {{{
  * val runner = new StatementRunner(spark, registry, bus)
  * runner.run(DmlParser.parse("PREDICT USING MODEL m FROM t STORE RESULTS IN r"))
  * }}}
  *
  * Definition statements (WHEN / MONITOR / CREATE ENSEMBLE) register state
  * on the runner; evaluation entry points (`dispatch`, `checkModelRules`,
  * `runMonitor`) fire them against data. Everything stays DataFrame-shaped:
  * rules are Column predicates counted in one aggregate over the events
  * scan, monitors one aggregate pass over both sides.
  */
object StatementRunner {
  final case class RunResult(
      kind: String, summary: String, data: Option[DataFrame] = None)
}

final class StatementRunner(
    spark: SparkSession,
    registry: ModelRegistry,
    bus: EventBus,
    handlers: Map[String, DataFrame => Unit] = Map.empty) {
  import StatementRunner.RunResult

  private val whenRules = mutable.ArrayBuffer.empty[WhenSpec]
  private val monitors = mutable.ArrayBuffer.empty[MonitorSpec]
  private val ensembles = mutable.LinkedHashMap.empty[String, EnsembleSpec]
  // last TrainSpec per model, TWO resolutions with different contracts:
  // trainSpecs holds the RESOLVED spec (bare-name holiday calendars
  // rewritten to literal dates by Trainer.train) for the explain paths,
  // which must re-derive exactly the TRAINED feature layout even if the
  // calendar view is later redefined; rawSpecs holds the statement as
  // written, for the built-in `retrain` WHEN action — a retrain is a NEW
  // fit, and a bare calendar name must re-resolve the CURRENT view
  // (frozen dates would silently train next year's model on last year's
  // holidays). The registry persists algorithm/features/config but not
  // the source query, hence both live here. One slot per model is
  // correct because `registry.load(name)` resolves the latest
  // REGISTERED version — the same fit trainSpecs tracks; `rollback`
  // flips the serving ENDPOINT, never the registry head, so explain and
  // the slot can only disagree if register itself fails (guarded by the
  // register-before-update order at both train sites).
  private val trainSpecs = mutable.LinkedHashMap.empty[String, TrainSpec]
  private val rawSpecs = mutable.LinkedHashMap.empty[String, TrainSpec]

  /** Run one statement. Its Spark jobs carry the job description
    * `dml:<kind> <name>` (e.g. `dml:train churn_model`); the caller's
    * description is restored afterwards. */
  def run(stmt: Statement): RunResult =
    graft.scale.JobLabel(spark, s"dml:${label(stmt)}")(execute(stmt))

  private def label(stmt: Statement): String = stmt match {
    case t: TrainSpec         => s"train ${t.name}"
    case c: ComputeSpec       => s"compute ${c.name}"
    case p: PredictSpec       => s"predict ${p.model}"
    case d: DeploySpec        => s"deploy ${d.model}"
    case ts: TrafficSplitSpec => s"traffic_split ${ts.endpoint}"
    case p: PublishSpec       => s"publish ${p.eventType}"
    case s: SubscribeSpec     => s"subscribe ${s.pattern}"
    case t: TransformerSpec   => s"transformer ${t.name}"
    case e: EnsembleSpec      => s"ensemble ${e.name}"
    case ex: ExplainSpec      => s"explain ${ex.model}"
    case m: MonitorSpec       => s"monitor ${m.model}"
    case w: WhenSpec          => s"when ${w.trigger}"
  }

  private def execute(stmt: Statement): RunResult = stmt match {
    case t: TrainSpec =>
      val report = Trainer.train(spark, t)
      val v = registry.register(report)
      trainSpecs(t.name) = report.spec
      rawSpecs(t.name) = t
      RunResult("train", s"model '${t.name}' v$v fitted " +
        s"(${report.metrics.toSeq.sortBy(_._1).mkString(", ")})")

    case c: ComputeSpec =>
      // table inference: fixture tables first (stable, documented order),
      // then any OTHER session temp view alphabetically — so a user's own
      // registered relation (e.g. a doc_id-keyed embedding view) can feed
      // a kernel without being one of the 10 fixtures. A candidate must
      // carry the input columns AND satisfy the kernel's own contract
      // (e.g. the doc_id key) — kernels validate at PLAN-BUILD time, so
      // trying a candidate is lazy and cheap; the first acceptor wins.
      val ins = c.inputs.getOrElse(throw new IllegalArgumentException(
        s"COMPUTE '${c.name}' names no FROM table(...) input columns"))
      val candidates = (graft.Tables.names ++
        spark.catalog.listTables().collect().map(_.name)
          .filterNot(graft.Tables.names.contains).sorted)
        .filter { t =>
          val cols =
            try spark.table(t).columns.toSet
            catch { case _: Exception => Set.empty[String] }
          ins.forall(cols.contains)
        }
      if (candidates.isEmpty) throw new IllegalArgumentException(
        s"no registered table or temp view has columns ${c.inputs}")
      // if NO candidate accepts, rethrow the first candidate's own error —
      // it names the actual contract violation (missing doc_id, arity)
      // instead of a vague "nothing matched"
      var firstErr: IllegalArgumentException = null
      val (table, out) = candidates.view.flatMap { t =>
        try Some((t, ComputeRegistry.runOnce(spark, c, t)))
        catch {
          case e: IllegalArgumentException =>
            if (firstErr == null) firstErr = e
            None
        }
      }.headOption.getOrElse(throw firstErr)
      RunResult("compute", s"kernel '${c.kernel}' over '$table'", Some(out))

    case p: PredictSpec =>
      val out = registry.predict(p.model, p.from, p.storeIn)
      RunResult("predict",
        s"predictions from '${p.model}' stored in '${p.storeIn}'", Some(out))

    case d: DeploySpec =>
      registry.deploy(d.model, d.endpoint)
      RunResult("deploy", s"'${d.model}' deployed to '${d.endpoint}'")

    case ts: TrafficSplitSpec =>
      // arms are recorded as deployments; live routing + AUTO PROMOTE run
      // at serving time (Agents.trafficSplit routes a batch by hashed key,
      // Agents.autoPromote evaluates each arm's slice and deploys the
      // winner once `promoteAfter` samples are routed)
      ts.models.foreach(m => registry.deploy(m, ts.endpoint))
      import spark.implicits._
      val arms = ts.models.zip(ts.splits)
        .toDF("model", "traffic_pct")
        .withColumn("endpoint", lit(ts.endpoint))
        .withColumn("auto_promote", lit(ts.autoPromote.orNull))
        .withColumn("promote_after",
          lit(ts.promoteAfter.map(java.lang.Long.valueOf).orNull))
      RunResult("traffic_split",
        s"${ts.models.size} arms on '${ts.endpoint}' " +
          s"(${ts.splits.mkString("/")}%)" +
          ts.autoPromote.fold("")(p => s", auto-promote by $p"), Some(arms))

    case p: PublishSpec =>
      bus.publish(p.eventType,
        p.payload.map { case (k, v) => k -> Value.pyStr(v) }.toMap)
      RunResult("publish", s"event '${p.eventType}' published")

    case s: SubscribeSpec =>
      val df = bus.subscribe(s.pattern)
      s.action.foreach(a => handlers.get(a).foreach(_(df)))
      RunResult("subscribe", s"subscription to '${s.pattern}'", Some(df))

    case t: TransformerSpec =>
      FeatureTransformers.create(spark, t.name, t.select)
      RunResult("transformer", s"feature transformer '${t.name}' registered",
        Some(spark.table(t.name)))

    case e: EnsembleSpec =>
      // validate BEFORE registering, so a failed VALIDATE ON never leaves
      // a half-registered ensemble behind
      val validated = e.validateOn.map { tbl =>
        val models = e.models.map { case (m, w) => registry.load(m) -> w }
        Agents.weightedEnsemble(models, spark.table(tbl))
      }
      ensembles(e.name) = e
      RunResult("ensemble",
        s"ensemble '${e.name}' (${e.models.size} models, ${e.method})",
        validated)

    case ex: ExplainSpec =>
      val model = registry.load(ex.model)
      val k = ex.topK.map(_.toInt).getOrElse(5)
      ex.forClause match {
        case None =>
          // model-level importances (no rows named). The registry stores
          // the DSL feature list, which EXCLUDES clause-derived
          // time-series columns — prefer the recorded TrainSpec's full
          // assembled layout when this runner trained the model.
          val features = trainSpecs.get(ex.model)
            .map(TrainCompiler.featureNames)
            .getOrElse(latestRegistryRow(ex.model).getSeq[String](3))
          require(features.nonEmpty,
            s"no feature names recorded for '${ex.model}'")
          val top = Agents.explain(model, features, k)
          import spark.implicits._
          RunResult("explain",
            s"top-${top.size} importances for '${ex.model}'",
            Some(top.toDF("feature", "importance")))
        case Some(raw) =>
          // FOR TRANSACTION transaction_id = 12345 (DSL.md:339-344): the
          // leading noun is decorative; the remainder is a predicate over
          // the model's training source. Row-level contributions need the
          // source query, which the registry does not persist — the model
          // must have been trained through this runner.
          val spec = trainSpecs.getOrElse(ex.model,
            throw new IllegalArgumentException(
              s"no TrainSpec recorded for '${ex.model}' — EXPLAIN " +
                "PREDICTION ... FOR needs the model trained through this " +
                "runner (the registry has no source query)"))
          val src = spark.sql(
            s"SELECT * FROM ${TrainCompiler.sourceFragment(spec)}")
          // expression features need computing; identifier features are
          // already source columns
          val exprFeatures = spec.features.zipWithIndex.collect {
            case (f, i) if !SqlCompiler.isSimpleIdentifier(f) =>
              FeatureCompiler.compile(f).as(s"f${i + 1}")
          }
          val withFeats = src.select(col("*") +: exprFeatures: _*)
          // a time-series model's pipeline expects the clause-derived
          // season_*/t_index columns
          val derived = TrainCompiler.effectiveClause(spec)
            .fold(withFeats)(ts => TimeSeries.withClauseFeatures(withFeats,
              ts, changepoints = TrainCompiler.changepointCount(spec),
              holidays = TrainCompiler.holidayDates(spec).getOrElse(Nil),
              cpScale = TrainCompiler.changepointPriorScale(spec)
                .getOrElse(1.0)))
          val data = applyForClause(derived, raw)
          // the UNFILTERED frame is the contribution baseline — a
          // single-FOR-row batch must not be its own mean
          val names = TrainCompiler.featureNames(spec)
          // USING kernel_shap forces the model-agnostic sampler; the
          // default prefers the deterministic exact/Saabas paths and
          // falls back to kernel SHAP for model families they don't
          // cover (naive bayes, MLP, …) instead of failing the EXPLAIN
          val out = ex.method match {
            case Some("kernel_shap") =>
              Agents.kernelShapRows(model, data, names, k,
                baseline = Some(derived))
            case Some(other) if other != "shap_values" =>
              // the parser accepts any identifier after USING; an
              // unknown method must error, not silently run a different
              // attribution than the one the user asked for.
              // (`shap_values` — DSL.md's name — falls through to the
              // default: deterministic exact/Saabas, kernel-SHAP fallback)
              throw new IllegalArgumentException(
                s"unknown EXPLAIN method '$other' — supported: " +
                  "shap_values (deterministic exact/Saabas with " +
                  "kernel-SHAP fallback) or kernel_shap (force the sampler)")
            case _ =>
              try Agents.explainRows(model, data, names, k,
                baseline = Some(derived))
              catch {
                case _: Agents.UnsupportedExplainModel =>
                  Agents.kernelShapRows(model, data, names, k,
                    baseline = Some(derived))
              }
          }
          RunResult("explain",
            s"top-$k per-row contributions for '${ex.model}'", Some(out))
      }

    case m: MonitorSpec =>
      monitors += m
      RunResult("monitor",
        s"monitor on '${m.model}' for ${m.monitorFor} registered")

    case w: WhenSpec =>
      whenRules += w
      RunResult("when", s"rule on '${w.trigger}' registered")
  }

  // ----- evaluation entry points ------------------------------------------

  /** Registered event rules as a RuleEngine over an events batch; fires
    * matching actions (named handler, else a `rule_fired` event). The
    * batch's `rule_fired` events are published together, as one append,
    * in rule order. Jobs carry the description `dml:dispatch`. */
  def dispatch(events: DataFrame): Map[String, Long] =
    graft.scale.JobLabel(spark, "dml:dispatch") {
      val eventRules = whenRules.toSeq.filter(_.trigger.startsWith("event:"))
      val fired = mutable.ArrayBuffer.empty[(String, Map[String, String])]
      val rules = eventRules.zipWithIndex.map { case (w, i) =>
        // rule names must be unique or dispatchBatch's result map collapses
        // same-action rules and under-reports match counts
        val dup = eventRules.indexWhere(_.action == w.action) != i
        WhenRule(
          name = if (dup) s"${w.action}#$i" else w.action,
          eventTypePattern = w.trigger.stripPrefix("event:"),
          condition = w.condition.map(conditionColumn).getOrElse(lit(true)),
          action = handlerFor(w.action).getOrElse(
            (_: DataFrame) => fired += ruleFired(w.action)))
      }
      try new RuleEngine(rules).dispatchBatch(events)
      finally bus.publishAll(fired.toSeq)
    }

  /** WHEN MODEL rules evaluated against the latest registry metrics of each
    * model; returns the fired actions. `rollback` and `retrain` are
    * built-in actions (reference DSL.md's reactive blocks): rollback
    * re-deploys the model's previous version, retrain refits the model's
    * last TrainSpec as a new version; both publish an audit event.
    * Anything else resolves through the caller-supplied handlers. */
  def checkModelRules(): Seq[String] =
    whenRules.toSeq.collect {
      case w if w.trigger.startsWith("model:") &&
          w.condition.exists(modelConditionHolds(w.trigger.stripPrefix("model:"), _)) =>
        val model = w.trigger.stripPrefix("model:")
        w.action.trim.toLowerCase.split("\\s+").head match {
          case "rollback" =>
            val v = registry.rollback(model)
            bus.publish("model_rollback",
              Map("model" -> model, "to_version" -> v.toString))
          case "retrain" =>
            // the RAW spec: a retrain is a new fit, so a bare calendar
            // name re-resolves the current view (see the map contract)
            val spec = rawSpecs.getOrElse(model,
              throw new IllegalArgumentException(
                s"no TrainSpec recorded for '$model' — retrain needs the " +
                  s"model to have been trained through this runner"))
            val report = Trainer.train(spark, spec)
            // register FIRST (the `case t: TrainSpec` order): a failed
            // register must not leave the explain map describing a fit
            // the registry never accepted
            val v = registry.register(report)
            trainSpecs(model) = report.spec
            bus.publish("model_retrained",
              Map("model" -> model, "version" -> v.toString))
          case _ => handlerFor(w.action)
            .fold(bus.publishAll(Seq(ruleFired(w.action))))(_(spark.emptyDataFrame))
        }
        w.action
    }

  /** Fire a registered monitor: drift scores between two slices, alerts
    * published for features crossing the ALERT threshold (default 0.5).
    * Jobs carry the description `dml:monitor <model>`. */
  def runMonitor(model: String, reference: DataFrame, current: DataFrame)
      : Map[String, Double] = graft.scale.JobLabel(spark, s"dml:monitor $model") {
    val m = monitors.find(_.model == model).getOrElse(
      throw new IllegalArgumentException(s"no monitor registered for '$model'"))
    // the drift agent alerts when a feature's drift score EXCEEDS the
    // threshold; only conditions of that shape are honored — anything else
    // (e.g. `accuracy < 0.8`) would be silently reinterpreted, so reject it
    val threshold = m.alertWhen
      .map(a => StopCondition.parse(a) match {
        case StopCondition.Cmp(metric, op, v)
            if (op == ">" || op == ">=") &&
              Set("drift_score", "drift")(metric.toLowerCase) => v
        case _ => throw new IllegalArgumentException(
          s"drift monitors support ALERT WHEN drift_score > threshold; got '$a'")
      })
      .getOrElse(0.5)
    Agents.driftAgent(bus, reference, current,
      if (m.features.nonEmpty) m.features
      else latestRegistryRow(model).getSeq[String](3),
      threshold)
  }

  /** Performance-degradation check — the monitor's chained AND clause
    * (DSL.md:348: `AND performance_degradation ON accuracy, f1_score`):
    * compares the model's latest registry metrics against its previous
    * version's; every listed metric that dropped by more than `minDelta`
    * publishes a `performance_alert` event. Returns
    * metric → (previous, current) for the listed metrics present in both
    * versions. */
  def runPerformanceCheck(
      model: String, minDelta: Double = 1e-9): Map[String, (Double, Double)] = {
    val m = monitors.find(mm => mm.model == model &&
      (mm.monitorFor == "performance_degradation" ||
        mm.also.exists(_._1 == "performance_degradation")))
      .getOrElse(throw new IllegalArgumentException(
        s"no performance_degradation monitor registered for '$model'"))
    val metrics =
      (if (m.monitorFor == "performance_degradation") m.features else Nil) ++
        m.also.filter(_._1 == "performance_degradation").flatMap(_._2)
    require(metrics.nonEmpty,
      "performance_degradation monitor lists no metrics")
    val rows = registry.list().filter(col("name") === model)
      .orderBy(col("version").desc).limit(2).collect()
    if (rows.length < 2)
      throw new IllegalArgumentException(
        s"need two registered versions of '$model' to compare")
    val cur = PyJson.parseFlatDoubleMap(rows(0).getString(5))
    val prev = PyJson.parseFlatDoubleMap(rows(1).getString(5))
    metrics.flatMap { k =>
      for (p <- prev.get(k); c <- cur.get(k)) yield {
        if (p - c > minDelta)
          bus.publish("performance_alert", Map("model" -> model,
            "metric" -> k, "previous" -> p.toString,
            "current" -> c.toString))
        k -> (p, c)
      }
    }.toMap
  }

  def ensemble(name: String): Option[EnsembleSpec] = ensembles.get(name)

  // ----- internals --------------------------------------------------------

  private def latestRegistryRow(model: String) = {
    val rows = registry.list().filter(col("name") === model)
      .orderBy(col("version").desc).limit(1).collect()
    if (rows.isEmpty)
      throw new IllegalArgumentException(s"model not found: $model")
    rows(0)
  }

  /** FOR-clause raw text → the filtered frame. A bare predicate applies
    * as-is; with the reference's decorative entity noun
    * (`TRANSACTION transaction_id = 12345`) it is not an expression, so
    * everything after the first token is tried next. expr() parses lazily
    * (Spark 4 Column unification), so each candidate is validated by
    * forcing analysis against the actual frame — never string-spliced
    * into a SQL statement. */
  private def applyForClause(df: DataFrame, raw: String): DataFrame = {
    val trimmed = raw.trim
    val parts = trimmed.split("\\s+", 2)
    val candidates =
      if (parts.length == 2) Seq(trimmed, parts(1)) else Seq(trimmed)
    candidates.iterator.flatMap { c =>
      try {
        val d = df.where(expr(c))
        d.queryExecution.analyzed // force parse + resolution
        Some(d)
      } catch { case scala.util.control.NonFatal(_) => None }
    }.nextOption().getOrElse(throw new IllegalArgumentException(
      s"cannot interpret FOR clause as a predicate: $raw"))
  }

  /** Postgres-style `payload->>'k'` (DSL.md:133-134) translated to the
    * Spark-native JSON accessor over the events `props` column. */
  private def conditionColumn(cond: String): Column = {
    val spark = cond.replaceAll(
      "payload\\s*->>\\s*'([^']+)'", "get_json_object(props, '\\$.$1')")
    expr(spark)
  }

  private def modelConditionHolds(model: String, cond: String): Boolean = {
    val metricsJson = latestRegistryRow(model).getString(5)
    val metrics = PyJson.parseFlatDoubleMap(metricsJson)
      .map { case (k, v) => k.toLowerCase -> v }
    StopCondition.parse(cond.toLowerCase).eval(metrics)
  }

  private def handlerFor(action: String): Option[DataFrame => Unit] =
    handlers.get(action.split("\\s+").head)

  private def ruleFired(action: String) = "rule_fired" -> Map("action" -> action)
}
