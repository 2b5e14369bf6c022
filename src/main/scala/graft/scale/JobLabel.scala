package graft.scale

import org.apache.spark.sql.SparkSession

/** Spark job descriptions as step labels (`<operator>:<step>`, e.g.
  * `near:signatures`, `store:verify`): every job `body` starts carries
  * `label`, so a listener, the UI or a trace attributes it to its step
  * instead of a call site. The caller's description (a streaming
  * query's name, id and batch, or an enclosing label) is restored when
  * `body` ends. */
object JobLabel {
  def apply[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(previous)
  }
}
