package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-query timing probe: runs named catalog entries k times in one JVM
  * (cold cache each run) and prints every sample — used to adjudicate
  * bench regression flags against single-query floors. Every named entry
  * first runs once in a warm-up round (printed apart), so the first
  * entry's samples do not pay the JVM's warm-up (class loading, codegen)
  * for the entries after it.
  * Run: sbt "runMain graft.tools.QProbe q_range_join_rewrite ..."
  * (fixture dir from SPARK_GRAFT_SF_DIR, default sf0.1). */
object QProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_uuid_shape", "q_ts_forecast_input", "q_date_buckets")
    def run(name: String): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (name <- names)
      println(f"[qprobe] warm-up $name%-22s ${run(name)}%.3f")
    for (name <- names) {
      val times = (1 to 5).map(_ => run(name))
      println(f"[qprobe] $name%-22s ${times.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
