package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-layer metric names, in output order. A span is named
  * `<layer>.<function>` after the graft call it wraps; each gets the
  * counters listed beside it. */
object Layers {
  private val Base = Seq("wall_s", "self_s", "driver_s", "jobs")
  private val Leaf = Seq("wall_s", "driver_s", "jobs")
  private val Exec = Seq("task_cpu_s", "shuffle_write_bytes", "spill_bytes")
  private val Skewed = Set("llm.Dedup.minhashCandidates",
    "llm.Dedup.jaccardJoinExact", "llm.Curation.dupGroups")

  val Llm: Seq[String] = Seq("llm.Curation.gopherFilter", "llm.TextOps.exactDedup",
    "llm.Dedup.minhashCandidates", "llm.Dedup.jaccardRescore",
    "llm.Dedup.jaccardJoinExact", "llm.Curation.dupGroups",
    "llm.Curation.paragraphDedup", "llm.Similarity.semanticDedup",
    "llm.Bpe.tokenize")
  val Streams: Seq[String] = Seq("streaming.nearDupStream",
    "streaming.containmentStream")

  /** (span, counters) */
  val Spans: Seq[(String, Seq[String])] =
    Seq("sources.CorpusIO.read" -> Base) ++
      Llm.map(s => s -> (Base ++ Exec ++
        (if (Skewed(s)) Seq("max_task_shuffle_read_bytes") else Nil))) ++
      Streams.map(s => s -> (Base ++ Seq("task_cpu_s", "shuffle_write_bytes"))) ++
      Seq("streaming.retire" -> Leaf,
        "scale.StoreMaint.replaceStore" -> Leaf,
        "dml.DmlParser.parse" -> Leaf,
        "dml.runtime.train" -> Base,
        "dml.runtime.predict" -> Base,
        "dml.runtime.monitor" -> Base,
        "dml.events.dispatch" -> Leaf,
        "plans.plan" -> Leaf)

  /** Metrics that are not per-span counters. */
  val Extra: Seq[String] = Seq("streaming.engine_s", "streaming.wal_commit_s",
    "streaming.index_rows", "streaming.cached_rdds",
    "streaming.pairs_per_batch", "llm.lsh_precision",
    "sources.CorpusIO.write_bytes", "run.held_cache_mb",
    "run.traced_run_s", "run.trace_overhead_s", "run.task_cpu_s", "run.driver_s")

  val Names: Seq[String] =
    Spans.flatMap { case (s, cs) => cs.map(c => s"$s.$c") } ++ Extra
}

/** Spans opened by the benchmark around calls into graft, with Spark's
  * own job, task and streaming-progress events attributed to them by
  * time. Attribution is exact because the benchmark runs one span (and at
  * most one streaming query) at a time. The `plans.plan` spans are not
  * opened by the benchmark: they are the analysis, optimization and
  * planning phases of every query Spark executed, as the query's own
  * QueryPlanningTracker recorded them, each a child of the span open at
  * the time. When disabled, `span` just runs its body and no listener is
  * registered.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = -1
  private val jobs = new ConcurrentHashMap[Integer, Job]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val phases = new ConcurrentLinkedQueue[(Double, Double)]()
  private val writes = mutable.ArrayBuffer.empty[(Double, Double)]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Time spent in the tracer's own listener callbacks and span
    * bookkeeping: its overhead on the traced run. */
  private val ownNs = new java.util.concurrent.atomic.AtomicLong()
  private def own[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ownNs.addAndGet(System.nanoTime() - t0)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = own {
      jobs.put(e.jobId, new Job(e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = own {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = own {
      val m = e.taskMetrics
      val jid = stageJob.get(e.stageId)
      if (m != null && jid != null) Option(jobs.get(jid)).foreach { j =>
        j.synchronized {
          j.cpuNs += m.executorCpuTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled
          j.maxShuffleRead = math.max(j.maxShuffleRead, m.shuffleReadMetrics.totalBytesRead)
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      own(progress.add(e.progress))
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = own(record(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = own(record(qe))
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        if (phase != QueryPlanningTracker.PARSING)
          phases.add((p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(queryListener)
    spark.listenerManager.register(planListener)
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(queryListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Run `body` inside a span named `name`, a child of the open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (idx, parent) = own(synchronized {
        val s = Span(name, open, now())
        spans += s
        val p = open
        open = spans.size - 1
        (open, p)
      })
      try body
      finally own(synchronized { spans(idx).end = now(); open = parent })
    }

  /** Bytes written by the jobs run inside `body` count as
    * sources.CorpusIO.write_bytes. */
  def write[T](body: => T): T =
    if (!enabled) body
    else {
      val t0 = now()
      try body finally synchronized { writes += ((t0, now())) }
    }

  def add(counter: String, v: Double): Unit =
    if (enabled) synchronized { counters(counter) = counters.getOrElse(counter, 0.0) + v }

  /** Per-layer totals of everything recorded so far, plus the span dump. */
  def collect(): Collected = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    val opened = synchronized(spans.toVector)
    // each planning phase becomes a child of the innermost span open at its start
    val planning = phases.asScala.toVector.flatMap { case (a, b) =>
      val open = opened.indices.filter(i => opened(i).start <= a && a <= opened(i).end)
      if (open.isEmpty) None
      else {
        val p = open.maxBy(opened(_).start)
        Some(Span("plans.plan", p, a, math.min(b, opened(p).end)))
      }
    }
    val ss = opened ++ planning
    val allJobs = jobs.values().asScala.toVector.filter(_.end >= 0)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def acc(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    def within(s: Span, t: Double) = t >= s.start - 0.5 && t <= s.end + 0.5
    val children = ss.indices.groupBy(i => ss(i).parent)
    var topCpu = 0.0; var topDriver = 0.0; var unattributed = allJobs.size
    val dump = ss.indices.map { i =>
      val s = ss(i)
      val wall = (s.end - s.start) / 1e3
      val mine = allJobs.filter(j => within(s, j.start.toDouble))
      val jobUnion = union(mine.map(j => (math.max(j.start.toDouble, s.start),
        math.min(j.end.toDouble, s.end))))
      val childUnion = union(children.getOrElse(i, Nil).map(c => (ss(c).start, ss(c).end)))
      val driver = math.max(0.0, wall - jobUnion / 1e3)
      val self = math.max(0.0, wall - childUnion / 1e3)
      val cpu = mine.map(_.cpuNs).sum / 1e9
      acc(s"${s.name}.wall_s", wall)
      acc(s"${s.name}.self_s", self)
      acc(s"${s.name}.driver_s", driver)
      acc(s"${s.name}.jobs", mine.size)
      acc(s"${s.name}.task_cpu_s", cpu)
      acc(s"${s.name}.shuffle_write_bytes", mine.map(_.shuffleWrite).sum.toDouble)
      acc(s"${s.name}.spill_bytes", mine.map(_.spill).sum.toDouble)
      val mx = (0L +: mine.map(_.maxShuffleRead)).max.toDouble
      out(s"${s.name}.max_task_shuffle_read_bytes") =
        math.max(out.getOrElse(s"${s.name}.max_task_shuffle_read_bytes", 0.0), mx)
      if (s.parent < 0) { topCpu += cpu; topDriver += driver; unattributed -= mine.size }
      SpanOut(s.name, s.parent, s.start, s.end, wall, self, driver, mine.size, cpu)
    }
    val ws = synchronized(writes.toVector)
    out("sources.CorpusIO.write_bytes") = allJobs
      .filter(j => ws.exists { case (a, b) => j.start >= a - 0.5 && j.start <= b + 0.5 })
      .map(_.outBytes).sum.toDouble
    val prog = progress.asScala.toVector.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
    val engine = prog.map(p => math.max(0.0, dur(p, "triggerExecution") - dur(p, "addBatch"))).sum
    out("streaming.engine_s") = engine
    out("streaming.wal_commit_s") = prog.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum
    synchronized(counters.foreach { case (k, v) => out(k) = v })
    Collected(out.toMap, dump, topCpu, topDriver + engine, unattributed, ownNs.get / 1e9)
  }
}

object Tracer {
  final case class Span(name: String, parent: Int, start: Double, var end: Double = -1)
  final class Job(val start: Long) {
    @volatile var end: Long = -1
    var cpuNs, shuffleWrite, spill, maxShuffleRead, outBytes = 0L
  }
  final case class SpanOut(name: String, parent: Int, start: Double, end: Double,
      wall: Double, self: Double, driver: Double, jobs: Int, taskCpu: Double)
  final case class Collected(values: Map[String, Double], spans: Seq[SpanOut],
      taskCpu: Double, driverAndEngine: Double, unattributedJobs: Int, overhead: Double)

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    val s = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    s.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
