package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.{Dedup, PipelineCaches}
import graft.scale.StoreMaint
import graft.sources.CorpusIO
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{ContainmentIndex, NearDupIndex}

import Workload.{ok, seconds}

/** The generator's corpus arriving as small micro-batches with increasing
  * doc ids, fed to two streaming dedup queries one query at a time.
  * Before every batch but the first the writer retires a seeded set of
  * old ids from the live indexes and persists the containment index
  * through StoreMaint.replaceStore. */
final class StreamDedup extends Workload {
  private val Batches = 2
  private val BatchDocs = 20
  private val T = 0.8
  private var dir = ""
  private var corpus: Gen.Corpus = _
  private var slices: IndexedSeq[Array[Gen.Doc]] = _
  /** batch -> ids retired just before it */
  private var retirePlan: Map[Int, Seq[Long]] = _

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    this.dir = dir
    corpus = Gen.corpus(seed, Batches * BatchDocs)
    slices = corpus.docs.sortBy(_.id).grouped(BatchDocs).toIndexedSeq
    val r = new java.util.Random(seed + 99L)
    val arrival = slices.indices.flatMap(b => slices(b).map(_.id -> b)).toMap
    val pool = mutable.ArrayBuffer(corpus.truth.isolated.toIndexedSeq: _*)
    retirePlan = (1 until Batches).map { b =>
      val old = pool.filter(arrival(_) < b)
      val pick = (0 until math.min(3, old.size)).map(_ => old.remove(r.nextInt(old.size)))
      pool --= pick
      b -> pick.sorted
    }.toMap
    // warm-up: hash one slice (the first batches of the pass still pay
    // each plan's first compilation, as a freshly started stream does)
    Dedup.signatureIndex(spark.createDataFrame(slices(0).map(d => (d.id, d.text)).toSeq)
      .toDF("doc_id", "text")).count()
  }

  private final class Sinks {
    val near = mutable.ArrayBuffer.empty[(Int, Long, Long, Double)]
    val cont = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  }

  private final class Live(val queries: Seq[StreamingQuery], val cont: ContainmentIndex,
      val near: NearDupIndex, val sinks: Sinks)

  /** Runs every batch; returns the live queries and indexes (the caller
    * stops them). Batch latency covers any due maintenance, then the
    * queries in turn. */
  private def runStream(spark: SparkSession, tr: Tracer, base: String,
      ops: mutable.Buffer[Double]): Live = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    val streams = Seq.fill(2)(MemoryStream[(Long, String)](spark, parts))
    val frames = streams.map(_.toDF().toDF("doc_id", "text"))
    val near = new NearDupIndex()
    val cont = new ContainmentIndex(k = 3, threshold = T)
    val sinks = new Sinks
    val batch = new java.util.concurrent.atomic.AtomicInteger(0)
    def sink[T: scala.reflect.ClassTag](df: DataFrame)(f: Row => T): Array[T] =
      df.collect().map(f)
    val store = s"$base/store"
    CorpusIO.writeParquet(Dedup.shingleIndex(Seq.empty[(Long, String)].toDF("doc_id", "text")), store)
    val q1 = tr.span("streaming.nearDupStream")(StreamingPipeline.nearDupStream(frames(0), near,
      (_, c) => sinks.near ++= sink(c)(r => (batch.get, r.getLong(0), r.getLong(1), r.getDouble(2))),
      checkpointDir = Some(s"$base/ckpt-near")))
    val q2 = tr.span("streaming.containmentStream")(StreamingPipeline.containmentStream(frames(1), cont,
      (_, c) => sinks.cont ++= sink(c)(r => (batch.get, r.getLong(0), r.getLong(1))),
      checkpointDir = Some(s"$base/ckpt-cont")))
    val queries = Seq(q1, q2)
    val spans = Seq("streaming.nearDupStream", "streaming.containmentStream")
    while (batch.get < Batches) {
      val t0 = System.nanoTime()
      retirePlan.get(batch.get).filter(_.nonEmpty).foreach { ids =>
        tr.span("streaming.retire") { near.retire(ids); cont.retire(ids) }
        tr.span("scale.StoreMaint.replaceStore")(StoreMaint.replaceStore(spark, store, cont.snapshot))
      }
      val rows = slices(batch.get).map(d => (d.id, d.text)).toSeq
      queries.indices.foreach { i =>
        tr.span(spans(i)) {
          streams(i).addData(rows)
          queries(i).processAllAvailable()
        }
      }
      ops += seconds(t0)
      batch.incrementAndGet()
    }
    new Live(queries, cont, near, sinks)
  }

  private def stop(l: Live): Unit = {
    l.queries.foreach(_.stop())
    l.cont.close()
    PipelineCaches.clear()
  }

  // ----- reference ---------------------------------------------------------

  private var arrival: Map[Long, Int] = _
  private var retiredAt: Map[Long, Int] = _
  private var twinNear: Map[(Long, Long), Double] = _
  private var twinCont: Set[(Long, Long)] = _

  /** Whether the stream can still report the pair (a, b): neither side
    * was retired before the later side arrived. */
  private def live(a: Long, b: Long): Boolean = {
    val later = math.max(arrival(a), arrival(b))
    retiredAt.get(a).forall(_ > later) && retiredAt.get(b).forall(_ > later)
  }

  def reference(spark: SparkSession): Unit = {
    import spark.implicits._
    arrival = slices.indices.flatMap(b => slices(b).map(_.id -> b)).toMap
    retiredAt = retirePlan.toSeq.flatMap { case (b, ids) => ids.map(_ -> b) }.toMap
    // the batch twins of the two streams, over the same docs: the MinHash
    // candidates (hash-family specific, so computed by the batch operator)
    // and every containment pair (exact, so recomputed on the driver; the
    // batch Dedup.containmentJoinExact returns the same set)
    val all = corpus.docs.map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text")
    twinNear = Dedup.minhashCandidates(all).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      .filter { case ((a, b), _) => live(a, b) }
    PipelineCaches.clear()
    val sh = corpus.docs.map(d => d.id -> Ref.shingles(d.text)).toMap
    twinCont = Ref.exactContainmentPairs(sh, T).filter { case (a, b) => live(a, b) }
    System.err.println(s"[graftbench] stream_dedup reference: ${corpus.docs.length} docs in " +
      s"$Batches batches, ${twinNear.size} near-dup candidates, ${twinCont.size} containment " +
      s"pairs, ${retiredAt.size} retired")
  }

  // ----- measured pass -----------------------------------------------------

  /** Runs the stream, checks it, then stops its queries: what the
    * stream leaves behind stays in the end-of-pass memory figures. */
  def pass(spark: SparkSession, tr: Tracer): Pass = {
    val ops = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val st = runStream(spark, tr, s"$dir/pass", ops)
    try check(spark, tr, st, seconds(t0), ops.toSeq) finally stop(st)
  }

  private def check(spark: SparkSession, tr: Tracer, st: Live, wall: Double,
      ops: Seq[Double]): Pass = {
    if (tr.enabled) {
      tr.add("streaming.cached_rdds", spark.sparkContext.getPersistentRDDs.size)
      tr.add("streaming.index_rows", st.near.size + st.cont.size)
      tr.add("streaming.pairs_per_batch", (st.sinks.near.size + st.sinks.cont.size).toDouble / Batches)
    }
    val s = st.sinks
    val failedBatches = (0 until Batches).count { b =>
      val near = s.near.filter(_._1 == b)
      val cont = s.cont.filter(_._1 == b)
      !ok(s"stream batch $b equals its batch twin") {
        val nearPairs = near.map { case (_, a, c, e) => (math.min(a, c), math.max(a, c)) -> e }
        val twinN = twinNear.filter { case ((a, c), _) => math.max(arrival(a), arrival(c)) == b }
        val twinC = twinCont.filter { case (a, c) => math.max(arrival(a), arrival(c)) == b }
        nearPairs.size == near.size && nearPairs.toMap == twinN &&
          cont.map(x => (x._2, x._3)).toSet == twinC && cont.size == twinC.size
      }
    }
    // no quality figure: StreamDml reports the DSL phase's
    Pass(wall, ops, Batches, failedBatches, corpus.docs.length.toDouble, wall, Double.NaN)
  }
}
