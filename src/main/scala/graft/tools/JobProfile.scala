// Per-JOB micro-profiler: runs one catalog entry and prints every Spark
// job's wall time plus its aggregate task metrics (shuffle bytes, spill,
// peak input), so "which of an entry's ~15 sequential jobs is the cost"
// stops being a guess. Complements tools/QProbe (per-entry wall times
// after a warm-up round, for floor adjudication).
// Run: sbt "runMain graft.tools.JobProfile /root/testdata/sf0.1 q_jaccard_join_exact"
package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

object JobProfile {
  private final class Rec {
    @volatile var start = 0L
    @volatile var end = 0L
    @volatile var desc = ""
    @volatile var tasks = 0
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    @volatile var input = 0L
    @volatile var spill = 0L
    @volatile var cpuNs = 0L
  }

  /** Seconds covered by the union of the [start, end] millisecond
    * intervals: jobs that overlap (a `Par` fan-out) count once, so wall
    * time minus this is the time no job was running. */
  private[graft] def busySeconds(intervals: Seq[(Long, Long)]): Double = {
    val (total, _) = intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (start, end)) =>
        if (end <= reach) (sum, reach)
        else (sum + end - math.max(start, reach), end)
    }
    total / 1e3
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_jaccard_join_exact")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.register(spark, dir)
    // warm the machinery like Bench does, so job 0 isn't codegen startup
    spark.table("lineitem").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()

    val jobs = new ConcurrentHashMap[Int, Rec]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = new Rec
        r.start = e.time
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, r)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.getOrDefault(e.stageId, -1)
        val r = jobs.get(jid)
        if (r != null && e.taskMetrics != null) r.synchronized {
          r.tasks += 1
          r.shuffleRead += e.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
          r.input += e.taskMetrics.inputMetrics.bytesRead
          r.spill += e.taskMetrics.diskBytesSpilled
          r.cpuNs += e.taskMetrics.executorCpuTime
        }
      }
    })

    for (name <- names) {
      spark.catalog.clearCache()
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain the tail events
      println(f"== $name total ${wall}%.3f s, ${jobs.size} jobs")
      val recs = {
        import scala.jdk.CollectionConverters._
        jobs.asScala.toSeq.sortBy(_._1)
      }
      var prevEnd = 0L
      recs.foreach { case (id, r) =>
        val dur = (r.end - r.start) / 1e3
        val gap = if (prevEnd > 0) (r.start - prevEnd) / 1e3 else 0.0
        prevEnd = r.end max prevEnd
        println(f"  job $id%3d ${dur}%7.3f s (gap ${gap}%6.3f) " +
          f"tasks=${r.tasks}%4d cpu=${r.cpuNs / 1e9}%7.2f " +
          f"in=${r.input / 1e6}%8.1fMB sr=${r.shuffleRead / 1e6}%8.1fMB " +
          f"sw=${r.shuffleWrite / 1e6}%8.1fMB spill=${r.spill / 1e6}%6.1fMB " +
          s"${r.desc.take(80)}")
      }
      val walls = recs.map { case (_, r) => (r.end - r.start) / 1e3 }.sum
      val busy = busySeconds(recs.map { case (_, r) => (r.start, r.end) })
      println(f"  sum(job walls) ${walls}%.3f s, jobs busy ${busy}%.3f s " +
        f"— driver ${wall - busy}%.3f s")
    }
    spark.stop()
  }
}
