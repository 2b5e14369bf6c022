package graft.llm

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Spark jobs per call of the corpus-curation tail are a tracked budget:
  * `Curation.paragraphDedup`, `Dedup.jaccardJoinExact`,
  * `Dedup.jaccardRescore` and `Curation.dupGroups`, each counted from the
  * call through the caller's write of its output (the noop sink), run
  * under a job listener at `local[4]` on [[CurationIdentitySpec.corpus]],
  * and must stay at or below their budgets.
  *
  * The parent of this budget, measured with this spec, ran
  * paragraphDedup in 37 jobs, jaccardJoinExact in 22 and jaccardRescore
  * in 8, and its rescore plan held the shingle projection three times.
  * The parent of the `dupGroups` budget, measured the same way, ran it in
  * 19 jobs as three rounds of min-label propagation, which can stop short
  * of the components. */
class CurationJobBudgetSpec extends AnyFunSuite {
  import CurationIdentitySpec.corpus

  private val StepKey = "graft.spec.step"

  private val Budgets = Seq(
    "paragraph_dedup" -> 16, "jaccard_join_exact" -> 6, "jaccard_rescore" -> 3,
    "dup_groups" -> 12)

  /** Records (step, job description) for every job started. */
  private final class JobLog extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[(String, String)]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      if (p != null && p.getProperty(StepKey) != null)
        jobs += p.getProperty(StepKey) -> p.getProperty("spark.job.description")
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("each curation-tail operator stays within its Spark job budget, " +
    "labels its eager steps and restores the caller's job description") {
    val s = SparkTestSession.withTables()
    val sc = s.sparkContext
    val docs = corpus(s).localCheckpoint(true)
    val cands = Dedup.minhashCandidates(docs, minEstJaccard = 0.0)
      .localCheckpoint(true)
    PipelineCaches.clear()

    val log = new JobLog
    sc.addSparkListener(log)
    sc.setJobDescription("caller")
    def step(name: String)(body: => DataFrame): Unit = {
      sc.setLocalProperty(StepKey, name)
      try noop(body) finally sc.setLocalProperty(StepKey, null)
    }
    try {
      step("paragraph_dedup")(Curation.paragraphDedup(docs, chunkSize = 8,
        threshold = 0.8))
      step("jaccard_join_exact")(Dedup.jaccardJoinExact(docs, 0.8))
      step("jaccard_rescore")(Dedup.jaccardRescore(docs, cands))
      step("dup_groups")(Curation.dupGroups(docs.select("doc_id"), cands))
      ListenerBusDrain(sc)
      assert(sc.getLocalProperty("spark.job.description") == "caller")

      val byStep = log.synchronized(log.jobs.toList).groupBy(_._1)
      val counts = Budgets.map { case (k, _) => k -> byStep.getOrElse(k, Nil).size }
      info(counts.map { case (k, n) => s"$k=$n" }.mkString("jobs per call: ", ", ", ""))
      Budgets.zip(counts).foreach { case ((k, budget), (_, n)) =>
        assert(n <= budget, s"$k ran $n Spark jobs, budget $budget")
      }
      // eager steps carry their labels; the lazy rest runs in the
      // caller's write under the caller's description
      def descriptions(k: String) = byStep.getOrElse(k, Nil).map(_._2).toSet
      assert(descriptions("paragraph_dedup") ==
        Set("para:chunks", "minhash:buckets", "caller"))
      assert(descriptions("jaccard_join_exact") == Set("caller"))
      assert(descriptions("jaccard_rescore") == Set("caller"))
      assert(descriptions("dup_groups") == Set("cc:edges", "cc:star", "caller"))
    } finally {
      sc.removeSparkListener(log)
      sc.setJobDescription(null)
      PipelineCaches.clear()
    }
  }

  test("the rescore's shingle projection runs once per call: the second " +
    "document-side join reuses the first one's exchange, broadcast or " +
    "sort-merge") {
    val s = SparkTestSession.withTables()
    val cands = Dedup.minhashCandidates(corpus(s), minEstJaccard = 0.0)
      .localCheckpoint(true)
    PipelineCaches.clear()
    // sort-merge on an input with more partitions than cores, not
    // partitioned by doc_id: on a small input the Spread repartition by
    // doc_id would already satisfy both joins' distribution, and each
    // join stage would then project the shingles from that exchange
    val layouts = Seq(
      "broadcast" -> (corpus(s), Map.empty[String, String]),
      "sort-merge" -> (corpus(s).repartition(8),
        Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")))
    for ((name, (docs, conf)) <- layouts) {
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = Dedup.jaccardRescore(docs, cands)
        out.collect()
        val plan = out.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p => p.toString
        }
        assert("kgrams\\(".r.findAllIn(plan).length == 1,
          s"$name: the shingle projection must appear once:\n$plan")
        assert(plan.contains("ReusedExchange"),
          s"$name: the second join must reuse the document-side exchange:\n$plan")
      } finally conf.keys.foreach(s.conf.unset)
    }
  }
}
