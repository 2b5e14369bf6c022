package graftbench

import org.apache.spark.sql.SparkSession

/** The measured pass of a workload: its wall time, the latency of each op
  * (stage, micro-batch or statement), how many ops were attempted and how
  * many failed (threw, or produced output that did not match the
  * reference), and the workload's throughput and quality figures. */
final case class Pass(
    wall: Double,
    ops: Seq[Double],
    attempted: Int,
    failed: Int,
    rows: Double,
    rowSeconds: Double,
    quality: Double)

trait Workload {
  /** Seeded input generation, input writes and warm-up. Runs once per
    * set-up round, each time on a fresh session. */
  def setup(spark: SparkSession, seed: Long, dir: String): Unit

  /** Reference results for the output checks; untimed. */
  def reference(spark: SparkSession): Unit

  /** The measured pass: a fixed amount of work, run once per JVM. */
  def pass(spark: SparkSession, tr: Tracer): Pass
}

object Workload {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `check`; an exception or a false result is one failed op. */
  def ok(what: String)(check: => Boolean): Boolean =
    try {
      val r = check
      if (!r) System.err.println(s"[graftbench] CHECK FAILED: $what")
      r
    } catch {
      case e: Exception =>
        System.err.println(s"[graftbench] CHECK ERROR: $what: $e")
        false
    }
}
