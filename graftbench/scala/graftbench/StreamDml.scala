package graftbench

import org.apache.spark.sql.SparkSession

/** The fixed-cost-bound workload: micro-batches through the streaming dedup
  * indexes, then a DSL statement script. Its ops are the micro-batches and
  * the statements; throughput is the streaming phase's documents per
  * second; quality is the models' held-out quality (the streams' outputs
  * are checked for equality with their batch twins instead: with a few
  * dozen pairs per run, recall moves in steps too coarse for a bound). */
final class StreamDml extends Workload {
  private val stream = new StreamDedup
  private val dml = new DmlLifecycle

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    stream.setup(spark, seed, s"$dir/stream")
    dml.setup(spark, seed, s"$dir/dml")
  }

  def reference(spark: SparkSession): Unit = {
    stream.reference(spark)
    dml.reference(spark)
  }

  def pass(spark: SparkSession, tr: Tracer): Pass = {
    // the stream phase stops its queries before the statements run (one
    // query at a time)
    val s = stream.pass(spark, tr)
    val d = dml.pass(spark, tr)
    Pass(s.wall + d.wall, s.ops ++ d.ops, s.attempted + d.attempted,
      s.failed + d.failed, s.rows, s.rowSeconds, d.quality)
  }
}
