package graft.dml.runtime

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.dml.DmlParser
import graft.dml.events.EventBus

/** Spark jobs per DSL statement step are a tracked budget: a fixed script
  * (TRAIN random_forest with SPLIT and BALANCE, TRAIN linear_regression
  * with cv, PREDICT, two MONITOR checks, WHEN dispatch) runs under a job
  * listener, and each step's job count must stay at or below its budget.
  * A step that needs more jobs than its budget has lost a fused pass (one
  * confusion matrix for all classification metrics, the in-memory model
  * handoff from TRAIN to PREDICT, one aggregate for all rules or both
  * drift sides, one append per alert batch). */
class JobBudgetSpec extends AnyFunSuite {

  private val StepKey = "graft.spec.step"

  // under adaptive execution an aggregate is two jobs (its shuffle map
  // stage, then the result), so e.g. a monitor check is one grouped
  // aggregate = 2 jobs, plus one append when it alerts. TRAIN was 24
  // (random_forest) and 18 (linear_regression cv) before the class counts
  // became one countByValue job, the split sizes and indexer labels one
  // observed pass, and the model's saves concurrent
  private val Budgets = Seq(
    "train_rf" -> 20, "train_lin" -> 17, "predict" -> 2,
    "monitor_quiet" -> 2, "monitor_shift" -> 3, "dispatch" -> 3)

  /** A started job: its step, description and last stage's name (the
    * stage's call site, e.g. `save at ReadWrite.scala:…`). */
  private final case class Job(step: String, description: String, lastStage: String)

  /** Records every job started under a step, from any thread: the
    * registry's concurrent model saves inherit the step and label. */
  private final class JobLog extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      if (p != null && p.getProperty(StepKey) != null)
        jobs += Job(p.getProperty(StepKey), p.getProperty("spark.job.description"),
          e.stageInfos.maxBy(_.stageId).name)
    }
  }

  test("each DSL statement step stays within its Spark job budget, with " +
    "its jobs labelled dml:<kind> <name>") {
    val s = SparkTestSession.spark
    val sc = s.sparkContext
    DmlFixture.table(s, 7, 1200, 0L).createOrReplaceTempView("budget_train")
    DmlFixture.table(s, 7, 2000, 1000000L).createOrReplaceTempView("budget_score")
    DmlFixture.table(s, 7, 600, 2000000L).createOrReplaceTempView("budget_ref")
    DmlFixture.table(s, 7, 600, 3000000L).createOrReplaceTempView("budget_same")
    DmlFixture.table(s, 7, 600, 4000000L, shift = 1.0).createOrReplaceTempView("budget_shift")
    val events = DmlFixture.events(s, 7, 3000)
    val base = Files.createTempDirectory("graft-budget").toString
    val runner = new StatementRunner(s, new ModelRegistry(s, s"$base/registry"),
      new EventBus(s, s"$base/events"))
    def run(text: String) = runner.run(DmlParser.parse(text))

    val log = new JobLog
    sc.addSparkListener(log)
    def step[T](name: String)(body: => T): T = {
      sc.setLocalProperty(StepKey, name)
      try body finally sc.setLocalProperty(StepKey, null)
    }
    try {
      step("train_rf")(run(
        "TRAIN MODEL budget_rf USING random_forest(n_estimators=5, max_depth=4) " +
          "FROM budget_train PREDICT outcome WITH FEATURES(x1, x2, x3, x4, cat) " +
          "SPLIT DATA training=0.8, test=0.2 OPTIMIZE FOR accuracy " +
          "BALANCE CLASSES BY oversampling"))
      step("train_lin")(run(
        "TRAIN MODEL budget_lin USING linear_regression(max_iter=10) " +
          "FROM budget_train PREDICT y WITH FEATURES(x1, x2, DERIVED(amount * rate)) " +
          "SPLIT DATA training=0.8, test=0.2 VALIDATE USING cv(folds=2) OPTIMIZE FOR r2"))
      val scored = step("predict") {
        val out = run("PREDICT USING MODEL budget_rf FROM budget_score " +
          "STORE RESULTS IN budget_preds").data.get
        out.write.format("noop").mode("overwrite").save()
        out
      }
      run("MONITOR MODEL budget_rf FOR drift_detection ON features (x1, x2, x3) " +
        "ALERT WHEN drift_score > 0.25")
      val quiet = step("monitor_quiet")(
        runner.runMonitor("budget_rf", s.table("budget_ref"), s.table("budget_same")))
      val shifted = step("monitor_shift")(
        runner.runMonitor("budget_rf", s.table("budget_ref"), s.table("budget_shift")))
      Seq("WHEN EVENT 'order.%' WHERE value >= 100.0 THEN big_order",
        "WHEN EVENT 'user.login' THEN login_seen",
        "WHEN EVENT 'order.paid' WHERE payload->>'region' = 'eu' THEN eu_paid")
        .foreach(run)
      val fired = step("dispatch")(runner.dispatch(events))
      ListenerBusDrain(sc)

      // the script did its work
      assert(scored.columns.contains("prediction"))
      assert(!quiet.values.exists(_ > 0.25) && shifted.values.exists(_ > 0.25))
      assert(fired.keySet == Set("big_order", "login_seen", "eu_paid"))

      val byStep = log.synchronized(log.jobs.toList).groupBy(_.step)
      val counts = Budgets.map { case (k, _) => k -> byStep.getOrElse(k, Nil).size }
      info(counts.map { case (k, n) => s"$k=$n" }.mkString("jobs per step: ", ", ", ""))
      // each step's jobs by last stage, so a budget failure names the
      // job that was added
      def stages(k: String) = byStep.getOrElse(k, Nil).groupBy(_.lastStage).toSeq
        .map { case (name, js) => s"${js.size} × $name" }.sorted.mkString("; ")
      Budgets.foreach { case (k, _) => info(s"$k: ${stages(k)}") }
      Budgets.zip(counts).foreach { case ((k, budget), (_, n)) =>
        assert(n <= budget, s"step $k ran $n Spark jobs, budget $budget: ${stages(k)}")
      }
      def descriptions(k: String) = byStep.getOrElse(k, Nil).map(_.description).toSet
      assert(descriptions("train_rf") == Set("dml:train budget_rf"))
      assert(descriptions("train_lin") == Set("dml:train budget_lin"))
      assert(descriptions("monitor_shift") == Set("dml:monitor budget_rf"))
      assert(descriptions("dispatch") == Set("dml:dispatch"))
      // PREDICT's own jobs carry its label; the caller's noop write does not
      assert(descriptions("predict").contains("dml:predict budget_rf"))
    } finally sc.removeSparkListener(log)
  }

  test("StatementRunner.run restores the caller's job description") {
    val s = SparkTestSession.spark
    val sc = s.sparkContext
    val base = Files.createTempDirectory("graft-budget-desc").toString
    val runner = new StatementRunner(s, new ModelRegistry(s, s"$base/registry"),
      new EventBus(s, s"$base/events"))
    sc.setJobDescription("outer work")
    try {
      runner.run(DmlParser.parse("PUBLISH EVENT 'budget.ping' WITH PAYLOAD {k: v}"))
      assert(sc.getLocalProperty("spark.job.description") == "outer work")
    } finally sc.setJobDescription(null)
    runner.run(DmlParser.parse("PUBLISH EVENT 'budget.ping' WITH PAYLOAD {k: v}"))
    assert(sc.getLocalProperty("spark.job.description") == null)
  }
}
