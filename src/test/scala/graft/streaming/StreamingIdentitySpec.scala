package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.llm.{Dedup, PipelineCaches}
import graft.scale.Bucketing

/** The streaming dedup indexes return exactly their batch operators'
  * pairs, whatever the micro-batch slicing or the physical layout: batch
  * i of a monotone slicing emits the [[Dedup.minhashCandidates]] /
  * [[Dedup.containmentJoinExact]] pairs of the whole corpus whose later
  * doc arrives in batch i, each once, at 1, 7 and the session's shuffle
  * partitions and with broadcast joins disabled (the sort-merge probe). */
class StreamingIdentitySpec extends AnyFunSuite {

  private def spark = SparkTestSession.withTables()

  /** Half-doc excerpts (at least 5 words) of `src` at shifted ids. */
  private def halfEx(src: DataFrame, off: Long): DataFrame =
    src.withColumn("_w", split(col("text"), " "))
      .select((col("doc_id") + off).as("doc_id"),
        array_join(slice(col("_w"), lit(1),
          greatest((size(col("_w")) / 2).cast("int"), lit(5))), " ")
          .as("text"))

  /** Docs 0-59, trimmed near-copies of every 10th and excerpts of every
    * 7th at higher ids, so every slicing by id stays monotone. */
  private def corpus(s: SparkSession): DataFrame = {
    val d = s.table("documents").select("doc_id", "text")
      .filter(col("doc_id") < 60)
    d.unionAll(d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 12, 1))").as("text")))
      .unionAll(halfEx(d.filter(col("doc_id") % 7 === 0), 300000L))
  }

  /** Upper doc-id bounds of each slicing's batches. */
  private val Slicings = Seq(
    Seq(Long.MaxValue),
    Seq(30L, Long.MaxValue),
    Seq(20L, 100000L, Long.MaxValue))

  private val Layouts = Seq(
    "session defaults" -> Map.empty[String, String],
    "1 shuffle partition" -> Map("spark.sql.shuffle.partitions" -> "1"),
    "7 shuffle partitions" -> Map("spark.sql.shuffle.partitions" -> "7"),
    "broadcast joins off" -> Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))

  private def withConf[T](s: SparkSession, kv: Map[String, String])(body: => T): T = {
    val prev = kv.keys.map(k => k -> s.conf.getOption(k)).toMap
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The batch of `id` under a slicing's upper bounds. */
  private def batchOf(bounds: Seq[Long], id: Long): Int =
    bounds.indexWhere(id < _)

  /** Drains the slicing through `probe` (batch index, batch frame) and
    * checks each batch's rows against the reference pairs (a, b) → value
    * whose later doc falls in that batch. */
  private def checkSlicings(name: String, s: SparkSession, all: DataFrame,
      reference: Map[(Long, Long), Double])(
      newIndex: () => (Int, DataFrame) => DataFrame): Unit =
    for ((layout, conf) <- Layouts; bounds <- Slicings) withConf(s, conf) {
      val probe = newIndex()
      var lower = Long.MinValue
      bounds.zipWithIndex.foreach { case (upper, i) =>
        val batch = all.filter(col("doc_id") >= lower && col("doc_id") < upper)
        val got = probe(i, batch).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        val want = reference.filter { case ((a, b), _) =>
          math.max(batchOf(bounds, a), batchOf(bounds, b)) == i }
        assert(got.toMap == want && got.length == want.size,
          s"$name, $layout, ${bounds.size} batches, batch $i: " +
            s"extra ${got.toSet.diff(want.toSet)}, " +
            s"missing ${want.toSet.diff(got.toSet)}, ${got.length} rows")
        lower = upper
      }
    }

  test("drained near-dup candidates equal minhashCandidates over 1, 2 and " +
    "3 monotone slicings, at 1 and 7 shuffle partitions and with " +
    "broadcast joins off") {
    val s = spark
    val all = corpus(s)
    val reference = Dedup.minhashCandidates(all).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    PipelineCaches.clear()
    assert(reference.keys.exists { case (a, b) => b - a == 100000L },
      "the planted near-copies must be candidates")
    checkSlicings("near-dup", s, all, reference) { () =>
      val idx = new StreamingPipeline.NearDupIndex()
      (i, batch) => idx.probeAndAppend(batch, i.toLong)
    }
  }

  test("drained containment pairs equal containmentJoinExact over 1, 2 " +
    "and 3 monotone slicings, at 1 and 7 shuffle partitions and with " +
    "broadcast joins off") {
    val s = spark
    val all = corpus(s)
    val reference = Dedup.containmentJoinExact(all, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    PipelineCaches.clear()
    assert(reference.keys.exists { case (a, b) => a - b == 300000L },
      "the planted excerpts must be contained in their hosts")
    checkSlicings("containment", s, all, reference) { () =>
      val idx = new StreamingPipeline.ContainmentIndex(k = 3, threshold = 0.8)
      (i, batch) => idx.probeAndAppend(batch, i.toLong)
    }
  }

  test("a sh-bucketed shingle store probes containment with zero " +
    "exchange on the index side") {
    val s = spark
    val d = s.table("documents").select("doc_id", "text")
    val old = d.filter(col("doc_id") % 5 =!= 4)
    val batch = d.filter(col("doc_id") % 5 === 4)
      .unionAll(halfEx(d.filter(col("doc_id") % 10 === 0), 300000L))
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // in-memory ground truth
    val expected = pairs(Dedup.incrementalContainmentPairs(
      Dedup.shingleIndex(old), batch))
    assert(expected.exists { case (a, b, _) => a - b == 300000L })

    // index persisted bucketed on EXACTLY the probe join key; AQE off
    // for an exact plan tree to walk, broadcast off so the probe join is
    // the sort-merge shape a corpus-scale batch would use
    Bucketing.writeBucketed(Dedup.shingleIndex(old), "sh_index", Seq("sh"), buckets = 4)
    withConf(s, Map("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val probe = Dedup.incrementalContainmentPairs(s.table("sh_index"), batch)
      assert(pairs(probe) == expected)

      // NOTHING re-partitions the index scan before its join — the only
      // exchanges sit above joins (the pair aggregate) or under
      // batch-side inputs
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      val plan = probe.queryExecution.executedPlan
      def isIndexScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table == "sh_index")
        case _ => false
      }
      def reachesScanPreJoin(p: SparkPlan): Boolean = p match {
        case f if isIndexScan(f) => true
        case _: BaseJoinExec => false
        case other => other.children.exists(reachesScanPreJoin)
      }
      assert(plan.collect { case f if isIndexScan(f) => f }.nonEmpty,
        s"no sh_index scan in plan:\n$plan")
      val bad = plan.collect {
        case e: ShuffleExchangeExec if reachesScanPreJoin(e.child) => e
      }
      assert(bad.isEmpty,
        s"the bucketed index must reach its join without re-partitioning:\n$plan")
      assert(plan.toString.contains("SortMergeJoin"),
        "with broadcast disabled the probe join must be sort-merge")
    }
  }
}
