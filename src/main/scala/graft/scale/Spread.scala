package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Scale-adaptive READ-SIDE parallelism (optimization guide §2.5, "input
  * skew: one huge unsplittable file … repartition immediately after the
  * read"): the CPU-heavy per-row pipelines (shingling, minhash
  * signatures, chunking — fused hash expressions costing far more per
  * byte than the scan itself) inherit the scan's partitioning, and a
  * small parquet fixture yields 1-2 splits, starving every core but two
  * while 10+ seconds of hash work runs. Measured on q_jaccard_join_exact
  * (r18): ~10s of a 19s entry ran as 2-task stages at local[32].
  *
  * [[byKey]] hash-repartitions by a high-cardinality key up to the
  * session's default parallelism, ONLY when the relation currently has
  * fewer partitions than that — at 100 TB a scan already carries orders
  * of magnitude more splits than cores, so the condition never fires and
  * no exchange is added (the repartition must never become a second
  * corpus shuffle at scale). Keyed rather than round-robin on purpose:
  * deterministic under task retry (guide §2.5's SPARK-38388 caveat) and
  * free of round-robin's sort-before-repartition cost. The key must be
  * high-cardinality relative to the core count (doc_id everywhere here)
  * or hash collisions leave cores idle — guide §2.5's synthetic-key
  * warning. */
object Spread {

  /** `df` repartitioned by `key` to defaultParallelism when it has fewer
    * partitions than that; unchanged otherwise — and always unchanged
    * for streaming frames (their partitioning belongs to the runner)
    * and for frames WITHOUT the key column (several operators accept
    * schema-minimal inputs, e.g. the per-lang fertility card's
    * (lang, text) corpus — spreading is an optimization, never a new
    * schema requirement).
    *
    * Reading the partition count plans `df`, and is free only when that
    * plan has no exchange: with one, adaptive execution runs the
    * exchange's query stages to size the partitions — one Spark job for
    * an aggregate input and one for a broadcast semi-join input
    * (measured at `local[4]`). */
  def byKey(df: DataFrame, key: String): DataFrame = {
    if (df.isStreaming || !df.columns.contains(key)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // the physical plan's partition count (a job when df's plan has an
    // exchange, see above)
    if (df.rdd.getNumPartitions < target) df.repartition(target, col(key))
    else df
  }
}
