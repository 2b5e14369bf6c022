package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.llm.Dedup
import graft.scale.StoreMaint

/** Spark jobs per streaming-index step are a tracked budget: each
  * `probeAndAppend` of the near-dup and containment indexes (on an empty
  * and on a non-empty index, counting the jobs that consume its output),
  * each `retire`, and the `StoreMaint.replaceStore` that persists the
  * containment state between batches run under a job listener and must
  * stay at or below their budgets. Batches are in-memory frames with one
  * partition per core and no exchange, the shape a foreachBatch frame has.
  *
  * The parent of this budget ran near-dup 5 jobs on an empty index and 7
  * on a non-empty one, containment 8 and 15, retire 1 per index and
  * replaceStore 7. */
class StreamingJobBudgetSpec extends AnyFunSuite {

  private val StepKey = "graft.spec.step"

  private val Budgets = Seq(
    "near_empty" -> 3, "near_nonempty" -> 4,
    "contain_empty" -> 4, "contain_nonempty" -> 6,
    "near_retire" -> 0, "contain_retire" -> 0, "replace_store" -> 3)

  /** Records (step, job description) for every job started. */
  private final class JobLog extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[(String, String)]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      if (p != null && p.getProperty(StepKey) != null)
        jobs += p.getProperty(StepKey) -> p.getProperty("spark.job.description")
    }
  }

  /** Documents 0-39 of the fixture as two 20-doc batches; batch 1 also
    * carries a copy and a half-doc excerpt of batch-0 docs, so both
    * probes of batch 1 find pairs against the index. */
  private def batches(s: SparkSession): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val docs = s.table("documents").select("doc_id", "text")
      .filter(col("doc_id") < 40 && col("text").isNotNull).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (b0, b1) = docs.partition(_._1 < 20)
    val words = b0(3)._2.split(" ")
    val planted = Seq(
      (b0(5)._1 + 100000L, b0(5)._2),
      (b0(3)._1 + 300000L, words.take(math.max(words.length / 2, 5)).mkString(" ")))
    (b0, b1 ++ planted)
  }

  private def frame(s: SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(rows, s.sparkContext.defaultParallelism)
      .toDF("doc_id", "text")
  }

  test("each streaming-index step stays within its Spark job budget, and " +
    "the caller's job description is restored after every step") {
    val s = SparkTestSession.withTables()
    val sc = s.sparkContext
    val (b0, b1) = batches(s)
    val store = Files.createTempDirectory("graft-stream-budget").toString + "/store"
    Dedup.shingleIndex(frame(s, b0)).write.parquet(store)
    val near = new StreamingPipeline.NearDupIndex()
    val cont = new StreamingPipeline.ContainmentIndex(k = 3, threshold = 0.8)

    val log = new JobLog
    sc.addSparkListener(log)
    sc.setJobDescription("caller")
    def step[T](name: String)(body: => T): T = {
      sc.setLocalProperty(StepKey, name)
      try body finally sc.setLocalProperty(StepKey, null)
    }
    try {
      val nearPairs = Seq(
        step("near_empty")(near.probeAndAppend(frame(s, b0), 0L).collect()),
        step("near_nonempty")(near.probeAndAppend(frame(s, b1), 1L).collect()))
      val contPairs = Seq(
        step("contain_empty")(cont.probeAndAppend(frame(s, b0), 0L).collect()),
        step("contain_nonempty")(cont.probeAndAppend(frame(s, b1), 1L).collect()))
      step("near_retire")(near.retire(Seq(1L, 2L)))
      step("contain_retire")(cont.retire(Seq(1L, 2L)))
      val kept = step("replace_store")(StoreMaint.replaceStore(s, store, cont.snapshot))
      ListenerBusDrain(sc)
      assert(sc.getLocalProperty("spark.job.description") == "caller")

      // the steps did their work
      assert(nearPairs(1).exists(r =>
        r.getLong(0) == b0(5)._1 && r.getLong(1) == b0(5)._1 + 100000L))
      assert(contPairs(1).exists(r =>
        r.getLong(0) == b0(3)._1 + 300000L && r.getLong(1) == b0(3)._1))
      assert(kept == cont.size && kept > 0)

      val byStep = log.synchronized(log.jobs.toList).groupBy(_._1)
      val counts = Budgets.map { case (k, _) => k -> byStep.getOrElse(k, Nil).size }
      info(counts.map { case (k, n) => s"$k=$n" }.mkString("jobs per step: ", ", ", ""))
      Budgets.zip(counts).foreach { case ((k, budget), (_, n)) =>
        assert(n <= budget, s"step $k ran $n Spark jobs, budget $budget")
      }
      // the index's own jobs carry their step labels; the caller's
      // collect of the lazy output keeps the caller's description
      def descriptions(k: String) = byStep.getOrElse(k, Nil).map(_._2).toSet
      assert(descriptions("near_empty") == Set("near:signatures", "caller"))
      assert(descriptions("contain_empty") == Set("contain:shingles", "caller"))
      assert(descriptions("contain_nonempty") ==
        Set("contain:shingles", "contain:guard", "caller"))
      assert(descriptions("replace_store") == Set("store:write", "store:verify"))
    } finally {
      sc.removeSparkListener(log)
      sc.setJobDescription(null)
    }
  }

  test("every job a streaming dedup query issues carries a step label, " +
    "never the engine's batch description") {
    val s = SparkTestSession.withTables()
    import s.implicits._
    val sc = s.sparkContext
    val (b0, b1) = batches(s)
    val streams = Seq.fill(2)(MemoryStream[(Long, String)](s, sc.defaultParallelism))
    val frames = streams.map(_.toDF().toDF("doc_id", "text"))
    val near = new StreamingPipeline.NearDupIndex()
    val cont = new StreamingPipeline.ContainmentIndex(k = 3, threshold = 0.8)
    val seen = mutable.ArrayBuffer.empty[String]
    val queries = Seq(
      StreamingPipeline.nearDupStream(frames(0), near, (_, c) => { c.collect(); () }),
      StreamingPipeline.containmentStream(frames(1), cont, (_, c) => { c.collect(); () }))
    val log = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties.getProperty("spark.job.description")).getOrElse("")
      }
    }
    sc.addSparkListener(log)
    try {
      for (rows <- Seq(b0, b1); i <- queries.indices) {
        streams(i).addData(rows)
        queries(i).processAllAvailable()
      }
      ListenerBusDrain(sc)
    } finally {
      sc.removeSparkListener(log)
      queries.foreach(_.stop())
    }
    val labels = seen.synchronized(seen.toSet)
    assert(labels == Set("near:signatures", "near:probe",
      "contain:shingles", "contain:guard", "contain:probe"), labels)
  }
}
