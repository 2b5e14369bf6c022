package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload: set-up rounds, untimed reference computation, the
  * measured pass, output checks. Prints one info line and then, as the
  * last line of standard output, a JSON object with the metric values.
  *
  * {{{
  * graftbench.Main --workload corpus_curate --seed 1 --trace 0 --dir <work dir>
  * }}}
  */
object Main {
  val SetupRounds = 3

  def workload(name: String): Workload = name match {
    case "corpus_curate" => new CorpusCurate
    case "stream_dml" => new StreamDml
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def session(dir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$dir/checkpoints")
    s
  }

  /** Heap in use after full GCs. The pauses let Spark's ContextCleaner
    * drop the blocks of frames the first GC found unreachable, so the
    * last GC sees what is really held. */
  private def heldHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val trace = opts("trace") == "1"
    val dir = opts("dir")
    val wl = workload(name)

    var spark: SparkSession = null
    val setupTimes = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(dir)
      wl.setup(spark, seed, dir)
      val t = Workload.seconds(t0)
      System.err.println(f"[graftbench] set-up round: $t%.2f s")
      t
    }

    var attempted = 0
    var failed = 0
    var error: Option[Throwable] = None
    var pass: Option[Pass] = None
    var layers: Option[Tracer.Collected] = None
    var heapMb = Double.NaN
    var cacheMb = Double.NaN
    try {
      wl.reference(spark)
      val tr = new Tracer(spark, trace)
      val r = try {
        val r = wl.pass(spark, tr)
        // collect before the listeners go: it drains the bus first
        if (trace) layers = Some(tr.collect())
        r
      } finally tr.close()
      pass = Some(r)
      attempted += r.attempted
      failed += r.failed
      System.err.println(f"[graftbench] pass (traced=$trace): ${r.wall}%.2f s, ops " +
        r.ops.map(o => f"$o%.2f").mkString(" "))
      // end of the measured phase: what is still held
      cacheMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      heapMb = heldHeapMb()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        error = Some(e)
        failed += 1
        attempted += 1
    }

    val ops = pass.map(_.ops).getOrElse(Nil)
    val (tail, tailPct, n) = if (ops.nonEmpty) Ref.tail(ops) else (Double.NaN, 0.0, 0)
    val nan = Double.NaN
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> Ref.median(setupTimes),
      "run_s" -> pass.fold(nan)(_.wall),
      "op_p50_s" -> (if (ops.nonEmpty) Ref.median(ops) else nan),
      "op_tail_s" -> tail,
      "rows_per_s" -> pass.fold(nan)(p => p.rows / p.rowSeconds),
      "quality" -> pass.fold(nan)(_.quality),
      "held_heap_mb" -> heapMb)
    layers.foreach { c =>
      val table = mutable.LinkedHashMap.empty[String, Double]
      Layers.Names.foreach(nm => table(nm) = c.values.getOrElse(nm, 0.0))
      table("run.held_cache_mb") = cacheMb
      table("run.traced_run_s") = metrics("run_s")
      table("run.trace_overhead_s") = c.overhead
      table("run.task_cpu_s") = c.taskCpu
      table("run.driver_s") = c.driverAndEngine
      metrics.clear()
      metrics ++= table
      writeTrace(dir, name, seed, c, table)
    }
    val info = s"""{"info": {"workload": "$name", "seed": $seed, """ +
      s""""setup_rounds": ${setupTimes.map(fmt).mkString("[", ", ", "]")}, """ +
      s""""op_samples": $n, "op_tail_percentile": ${fmt(tailPct)}, "cores": """ +
      s"""${Runtime.getRuntime.availableProcessors()}, "error": ${json(error.map(_.toString).getOrElse(""))}}}"""
    println(info)
    val correct = error.isEmpty && failed == 0
    println(s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, "failed": $failed, """ +
      s""""metrics": ${metrics.map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")}}""")
    System.out.flush()
    spark.stop()
    // a failed pass can leave streaming queries running; they must not
    // keep the JVM alive
    sys.exit(0)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""

  /** The span dump and the per-layer table of a traced run. */
  private def writeTrace(dir: String, name: String, seed: Long,
      c: Tracer.Collected, table: collection.Map[String, Double]): Unit = {
    val w = new PrintWriter(new File(s"$dir/trace.json"))
    try {
      w.println(s"""{"workload": "$name", "seed": $seed,""")
      val cpu = table("run.task_cpu_s"); val drv = table("run.driver_s")
      w.println(s""" "summary": {"task_cpu_s": ${fmt(cpu)}, "driver_plus_engine_s": ${fmt(drv)}, """ +
        s""""cpu_to_driver": ${fmt(if (drv > 0) cpu / drv else Double.NaN)}, """ +
        s""""unattributed_jobs": ${c.unattributedJobs}},""")
      w.println(" \"layers\": " + table.map { case (k, v) => s""""$k": ${fmt(v)}""" }
        .mkString("{", ", ", "},"))
      w.println(" \"spans\": [")
      w.println(c.spans.map(s => s"""  {"name": "${s.name}", "parent": ${s.parent}, """ +
        s""""start_ms": ${fmt(s.start)}, "end_ms": ${fmt(s.end)}, "wall_s": ${fmt(s.wall)}, """ +
        s""""self_s": ${fmt(s.self)}, "driver_s": ${fmt(s.driver)}, "jobs": ${s.jobs}, """ +
        s""""task_cpu_s": ${fmt(s.taskCpu)}}""").mkString(",\n"))
      w.println(" ]}")
    } finally w.close()
  }
}
