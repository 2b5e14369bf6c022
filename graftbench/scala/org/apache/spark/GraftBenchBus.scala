package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the tracer's job, task and progress records are complete before spans
  * are attributed. The bus is package-private to Spark. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
