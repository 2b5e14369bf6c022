package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.dml.{DmlParser, MonitorSpec, Statement}
import graft.dml.events.EventBus
import graft.dml.runtime.{ModelRegistry, StatementRunner}

import Workload.{ok, seconds}

/** A seeded script of DSL statements run through DmlParser.parse and
  * StatementRunner: TRAIN over several algorithm families, PREDICT over a
  * scoring table, MONITOR on an unshifted and a shifted batch, and WHEN
  * rules dispatched over an events table. Each statement (and each
  * monitor check and rule dispatch) is one op, timed from parse to
  * materialized result. */
final class DmlLifecycle extends Workload {
  private val TrainRows = 2000
  private val ScoreRows = 10000
  private val MonitorRows = 2000
  private val EventRows = 5000
  private var dir = ""
  private var events: Array[Gen.Ev] = _

  private val Trains = Seq(
    "TRAIN MODEL m_rf USING random_forest(n_estimators=5, max_depth=4) FROM bench_train " +
      "PREDICT outcome WITH FEATURES(x1, x2, x3, x4, cat) " +
      "SPLIT DATA training=0.8, test=0.2 OPTIMIZE FOR accuracy BALANCE CLASSES BY oversampling",
    "TRAIN MODEL m_lin USING linear_regression(max_iter=10) FROM bench_train " +
      "PREDICT y WITH FEATURES(x1, x2, DERIVED(amount * rate)) " +
      "SPLIT DATA training=0.8, test=0.2 VALIDATE USING cv(folds=2) OPTIMIZE FOR r2")
  private val Predicts = Seq("m_rf").map(m =>
    s"PREDICT USING MODEL $m FROM bench_score STORE RESULTS IN preds_$m")
  private val Monitor =
    "MONITOR MODEL m_rf FOR drift_detection ON features (x1, x2, x3) " +
      "ALERT WHEN drift_score > 0.25"
  private val Whens = Seq(
    "WHEN EVENT 'order.%' WHERE value >= 100.0 THEN big_order",
    "WHEN EVENT 'user.login' THEN login_seen",
    "WHEN EVENT 'order.paid' WHERE payload->>'region' = 'eu' THEN eu_paid")

  /** Expected dispatch counts, computed on the driver from the events. */
  private def expectedDispatch: Map[String, Long] = Map(
    "big_order" -> events.count(e => e.etype.startsWith("order.") && e.value >= 100.0).toLong,
    "login_seen" -> events.count(_.etype == "user.login").toLong,
    "eu_paid" -> events.count(e => e.etype == "order.paid" && e.region == "eu").toLong)
    .filter(_._2 > 0)

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    this.dir = dir
    // in-memory views: the statements read driver-generated relations
    Seq("bench_train" -> Gen.table(seed, TrainRows, 0L),
      "bench_score" -> Gen.table(seed, ScoreRows, 1000000L),
      "bench_ref" -> Gen.table(seed, MonitorRows, 2000000L),
      "bench_same" -> Gen.table(seed, MonitorRows, 3000000L),
      "bench_shift" -> Gen.table(seed, MonitorRows, 4000000L, shift = 1.0))
      .foreach { case (name, rows) => rows.toSeq.toDF().createOrReplaceTempView(name) }
    events = Gen.events(seed, EventRows)
    events.toSeq.map(e => (e.id, new java.sql.Timestamp(e.tsMs), e.user, e.etype,
      e.value, s"""{"region": "${e.region}"}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .createOrReplaceTempView("bench_events")
    // warm-up: parse the script and scan the training table
    (Trains ++ Predicts ++ Whens :+ Monitor).foreach(DmlParser.parse)
    spark.table("bench_train").count()
  }

  def reference(spark: SparkSession): Unit =
    System.err.println(s"[graftbench] dml_lifecycle reference: dispatch $expectedDispatch")

  private val Metric = """\((\w+),([-+0-9.eE]+|NaN)\)""".r

  /** The held-out value of the statement's OPTIMIZE FOR metric, from the
    * TRAIN result summary. */
  private def quality(stmt: String, summary: String): Double = {
    val metrics = Metric.findAllMatchIn(summary).map(m => m.group(1) -> m.group(2).toDouble).toMap
    metrics("""OPTIMIZE FOR (\w+)""".r.findFirstMatchIn(stmt).get.group(1))
  }

  def pass(spark: SparkSession, tr: Tracer): Pass = {
    val base = s"$dir/pass"
    val runner = new StatementRunner(spark, new ModelRegistry(spark, s"$base/registry"),
      new EventBus(spark, s"$base/events"))
    val ops = mutable.ArrayBuffer.empty[Double]
    val checks = mutable.ArrayBuffer.empty[Boolean]
    val qualities = mutable.ArrayBuffer.empty[Double]
    var scored = 0L
    var scoreTime = 0.0
    def parse(text: String): Statement = tr.span("dml.DmlParser.parse")(DmlParser.parse(text))
    def timed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally ops += seconds(t0)
    }
    val t0 = System.nanoTime()
    Trains.foreach { text =>
      val res = timed(tr.span("dml.runtime.train")(runner.run(parse(text))))
      checks += ok(s"TRAIN reports its metric: ${res.summary}") {
        val q = quality(text, res.summary)
        qualities += q
        q > 0.6 && q <= 1.0
      }
    }
    Predicts.foreach { text =>
      val t1 = System.nanoTime()
      val n = timed {
        val stmt = parse(text)
        tr.span("dml.runtime.predict") {
          val out = runner.run(stmt).data.get
          val obs = Observation("scored")
          out.observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          obs.get("n").asInstanceOf[Long]
        }
      }
      scoreTime += seconds(t1)
      scored += n
      checks += ok(s"PREDICT scores every row ($n of $ScoreRows)")(n == ScoreRows)
    }
    val verdicts = Seq("bench_same", "bench_shift").zipWithIndex.map { case (cur, i) =>
      timed {
        val stmt = if (i == 0) Some(parse(Monitor)) else None
        tr.span("dml.runtime.monitor") {
          stmt.foreach(s => runner.run(s.asInstanceOf[MonitorSpec]))
          runner.runMonitor("m_rf", spark.table("bench_ref"), spark.table(cur))
            .values.exists(_ > 0.25)
        }
      }
    }
    checks += ok("MONITOR is quiet on the unshifted batch")(!verdicts(0))
    checks += ok("MONITOR alerts on the shifted batch")(verdicts(1))
    val fired = timed {
      Whens.foreach(w => runner.run(parse(w)))
      tr.span("dml.events.dispatch")(runner.dispatch(spark.table("bench_events")))
    }
    checks += ok(s"dispatch counts $fired equal the matching events")(fired == expectedDispatch)
    val wall = seconds(t0)
    val failed = checks.count(!_)
    Pass(wall, ops.toSeq, ops.size, failed, scored.toDouble, scoreTime,
      if (qualities.isEmpty) 0.0 else qualities.sum / qualities.size)
  }
}
