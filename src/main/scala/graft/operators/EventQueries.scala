package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Driver-gate entries for the events layer (SURVEY §2.7): windowed
  * metrics (the "metrics materialized view" pattern, DISTRIBUTED.md:626),
  * funnel analysis over event ordering, and drift-window statistics.
  * All aggregates use decimal-exact sums so partial-aggregation order can
  * never change the oracle hash.
  */
object EventQueries {

  private val D = DecimalType(18, 2)

  private def events(s: SparkSession, dir: String): DataFrame = {
    Tables.register(s, dir); s.table("events")
  }

  /** Fixture-scale size for adaptive execution's skew-join split: the
    * planted hot key's partition is a few KB at sf0.001, so Spark's
    * 256 MB default threshold would never call it skewed. */
  private val SkewSplitBytes = "1KB"

  /** Shuffle partitions of the planted-skew joins, whatever the
    * session's own: AQE calls a partition skewed only above 5× the
    * median partition, and the hot key's rows compress well in the
    * shuffle, so the hot partition is about 3× the median in bytes at
    * 4 partitions and does not split at 16 (JoinSkewSpec's fixture);
    * at 20 it splits on every fixture. More partitions cost a task
    * each. */
  private val SkewJoinPartitions = "20"

  /** Map outputs of the spread fact side. AQE splits a skewed partition
    * at map-output granularity, so the single-file events scan (one map
    * task) cannot be split, and 4 map outputs cut the hot task to about
    * a quarter; a fixed count, not the session's parallelism, so the
    * split fires at any core count. Kept small because each map task
    * writes one file per shuffle partition. */
  private val FactMapOutputs = 4

  /** Shared conf scaffold of the planted-skew join entries (the
    * `q_salted_join*` family): Spark's own skewed-partition threshold,
    * the advisory size AQE splits a skewed partition toward, and the
    * minimum partition size coalescing may leave, all set to
    * [[SkewSplitBytes]]; [[SkewJoinPartitions]] shuffle partitions;
    * auto-broadcast off, because the fixture dimension is tiny and a
    * broadcast join has no shuffle to split — the 100 TB case this
    * simulates has both sides far above the threshold. Every conf is
    * restored on exit. */
  private[graft] def withSkewSplitConfs[T](s: SparkSession)(body: => T): T = {
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
      .map(_ -> SkewSplitBytes) ++ Seq(
      "spark.sql.shuffle.partitions" -> SkewJoinPartitions,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The planted-hot-key events relation of the skew-join entries:
    * every 3rd event lands on k = 0, the rest spread over ≤ 500 user
    * buckets; `extra` columns ride along after k. */
  private def plantedHotKey(s: SparkSession, dir: String,
      extra: Column*): DataFrame =
    events(s, dir).select(Seq(col("event_id"),
      when(col("event_id") % 3 === 0, 0L)
        .otherwise(pmod(col("user_id"), lit(500L)) + 1L).as("k")) ++
      extra :+ col("value"): _*)

  /** The fact side hash-spread by `event_id` over [[FactMapOutputs]]
    * partitions, so the join's map stage has that many map outputs. */
  private def spreadFact(e: DataFrame): DataFrame =
    e.repartition(FactMapOutputs, col("event_id"))

  /** Runs a planted-skew join under [[withSkewSplitConfs]] and returns
    * it materialized (the confs must be in force while it executes).
    * Unless `requireSplit` is false, fails when the final adaptive
    * plan has no shuffle read with a skew-split partition, so an entry
    * whose split silently stopped firing cannot pass vacuously. AQE
    * splits only at map-output granularity and only between two plain
    * shuffle reads, so callers spread the fact side ([[spreadFact]])
    * and materialize the dimension side. The result is stored
    * serialized: deserialized storage estimates each partition's size
    * by sampling its rows, a per-task cost that doubled the join
    * stage's CPU time at sf0.1. */
  private def aqeSkewJoin(s: SparkSession, requireSplit: Boolean = true)(
      join: => DataFrame): DataFrame = withSkewSplitConfs(s) {
    val out = join
    val materialized = out.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val plan = out.queryExecution.executedPlan
    require(!requireSplit || skewSplitReads(plan) > 0,
      s"AQE did not split the planted hot key's partition:\n$plan")
    require(!plan.toString.contains("CartesianProduct") &&
      !plan.toString.contains("BroadcastNestedLoopJoin"),
      s"a planted-skew equi-join must not plan as a cartesian:\n$plan")
    materialized
  }

  /** Shuffle reads in an executed (final adaptive) plan that carry a
    * skew-split partition. */
  private[graft] def skewSplitReads(
      plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
      AdaptiveSparkPlanHelper}
    object Walk extends AdaptiveSparkPlanHelper
    Walk.collect(plan) {
      case r: AQEShuffleReadExec if r.hasSkewedPartition => r
    }.size
  }

  /** Deterministic micro-batch replay through a real Structured Streaming
    * query: each `batches` frame becomes exactly one micro-batch (one
    * parquet part-file, planted mtimes 10s apart, maxFilesPerTrigger=1),
    * `transform` builds the streaming plan over the source, and the
    * drained memory sink comes back ordered by `sortCols` with every
    * scratch artifact (temp view, replay dir, checkpoint) removed — the
    * bench re-executes entry closures, so nothing may leak per run.
    *
    * State partitions are fixed at first run from shuffle.partitions;
    * they are sized here to the replay's small state (2, not the session
    * default 32) because every partition pays a state-store commit PER
    * MICRO-BATCH and the replays are commit-bound, not compute-bound —
    * measured across 8/4/2/1: monotone improvement down to 2 (the outer
    * interval join 6.4→4.9 s), then worse at 1 (state work goes
    * single-threaded). On a real cluster this would scale with key
    * cardinality, not executor count. */
  private[operators] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Event-time operators (withWatermark, dropDuplicatesWithinWatermark)
    * reject TIMESTAMP_NTZ; the fixtures are NTZ parquet. Read through a
    * TIMESTAMP schema instead — the session runs UTC, so the instants
    * are identical and the DuckDB oracle compares unchanged. */
  private def tsSchema(df: DataFrame): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      df.schema.map { f =>
        if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
          f.copy(dataType = org.apache.spark.sql.types.TimestampType)
        else f
      })

  /** Replay-harness scratch root: tmpfs (/dev/shm) when present, else
    * java.io.tmpdir. The state store fsyncs a delta file per partition
    * per commit under the checkpoint dir; on a disk-backed /tmp those
    * fsyncs ARE the replay floor (measured r12: the interval-join
    * replays are commit-bound, not compute-bound). Harness-local ONLY:
    * these checkpoints are one-shot and deleted on drain — a production
    * stream needs a durable checkpoint and does not come through here. */
  private[operators] def scratchRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
      java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir", "/tmp"))
  }

  private[operators] def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  /** One scratch dir per stream: each `batches` frame becomes exactly
    * one parquet part-file with planted mtimes 10s apart, so
    * maxFilesPerTrigger=1 replays them as ordered micro-batches. */
  private[operators] def stampedDir(batches: Seq[DataFrame]): java.io.File = {
    val tmp = scratchDir("graft_replay").toFile
    batches.zipWithIndex.foreach { case (df, i) =>
      val before = tmp.listFiles().map(_.getName).toSet
      df.coalesce(1).write.mode("append").parquet(tmp.toString)
      val stamp = System.currentTimeMillis() - (batches.size - 1 - i) * 10000L
      tmp.listFiles()
        .filter(f => f.getName.startsWith("part-") && !before(f.getName))
        .foreach(f => require(f.setLastModified(stamp),
          s"cannot stamp ${f.getName} — batch order would scramble"))
    }
    tmp
  }

  /** Shared drain: run the streaming `plan` to a memory sink under
    * AvailableNow, return the pinned sorted rows. EVERY exit — success,
    * transform failure, or drain timeout — restores shuffle.partitions
    * and removes the checkpoint, the scratch dirs, and the temp view
    * (the bench re-executes entry closures, so a failure path that
    * leaks would accumulate scratch for the life of the process). */
  private def drainReplay(
      s: SparkSession, plan: DataFrame, sortCols: Seq[String],
      scratch: Seq[java.io.File]): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = scratchDir("graft_replay_ck").toString
    val sink = "replay_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val restore = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", 2)
    try {
      val q = plan
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      // a timed-out drain must fail loudly, not hand a half-populated
      // sink to the hash gate — and must not keep committing state
      // underneath every subsequent entry
      if (!q.awaitTermination(180000)) {
        q.stop()
        throw new IllegalStateException(
          "streaming replay did not drain within 180s")
      }
      // pin the (driver-resident) sink rows before the view drops
      s.table(sink).orderBy(sortCols.map(col): _*).localCheckpoint(true)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", restore)
      try s.catalog.dropTempView(sink) catch { case _: Exception => () }
      scratch.foreach(rmTree)
      rmTree(new java.io.File(ckpt))
    }
  }

  private def streamReplay(
      s: SparkSession, batches: Seq[DataFrame],
      transform: DataFrame => DataFrame, sortCols: Seq[String]): DataFrame = {
    val tmp = stampedDir(batches)
    try {
      val plan = transform(
        s.readStream.schema(tsSchema(batches.head))
          .option("maxFilesPerTrigger", 1).parquet(tmp.toString))
      drainReplay(s, plan, sortCols, Seq(tmp))
    } catch {
      case e: Throwable => rmTree(tmp); throw e
    }
  }

  /** [[streamReplay]] for TWO input streams (stream-stream joins): each
    * side gets its own scratch dir and file-per-micro-batch cadence; the
    * transform sees both unbounded frames. Same drain/cleanup/sort
    * discipline as the single-stream form. */
  private def streamReplay2(
      s: SparkSession, left: Seq[DataFrame], right: Seq[DataFrame],
      transform: (DataFrame, DataFrame) => DataFrame,
      sortCols: Seq[String]): DataFrame = {
    val lDir = stampedDir(left)
    val rDir =
      try stampedDir(right)
      catch { case e: Throwable => rmTree(lDir); throw e }
    try {
      val plan = transform(
        s.readStream.schema(tsSchema(left.head))
          .option("maxFilesPerTrigger", 1).parquet(lDir.toString),
        s.readStream.schema(tsSchema(right.head))
          .option("maxFilesPerTrigger", 1).parquet(rDir.toString))
      drainReplay(s, plan, sortCols, Seq(lDir, rDir))
    } catch {
      case e: Throwable => rmTree(lDir); rmTree(rDir); throw e
    }
  }

  /** Plans `join` with the range-join rule on and returns it
    * materialized (the rule acts while planning, so the conf must be
    * in force until then). Fails if the join planned as a nested loop,
    * the plan the rule exists to replace. */
  private def rangeRewritten(s: SparkSession)(join: => DataFrame)
      : DataFrame = {
    graft.functions.GraftExtensions.register(s)
    val prev = s.conf.get("spark.graft.rangeJoin.rewrite", "false")
    s.conf.set("spark.graft.rangeJoin.rewrite", "true")
    try {
      val out = join
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        "range join planned as a nested loop")
      out.localCheckpoint(true)
    } finally s.conf.set("spark.graft.rangeJoin.rewrite", prev)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // join-skew planning card for the events × events self-join on
    // user_id: top-20 hot keys by output rows (n_l × n_r, the salting
    // decision quantity) + the NULL-key total row whose share column is
    // the top-20 output concentration — exact via key-count tables,
    // never the data join itself
    "q_join_skew_card" -> { (s, dir) =>
      val e = events(s, dir).select("user_id")
      graft.plans.JoinSkew.joinSkewCard(e, e, "user_id", topN = 20)
    },

    // event-type Markov transition matrix: per (from, to) cell, counts
    // and P(to | from) — the funnel-analytics read of user journeys
    // (gram_entropy's events-tier sibling). Per-user lead over the
    // unique (ts, event_id) order; the prob window rides the
    // types²-bounded cell table
    "q_event_transitions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir)
        .select("user_id", "ts", "event_id", "event_type")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      e.withColumn("_next", lead("event_type", 1).over(w))
        .filter(col("_next").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("_next").as("to_type"))
        .agg(count(lit(1)).cast("bigint").as("n"))
        .withColumn("prob", round(col("n").cast("double") /
          sum("n").over(Window.partitionBy("from_type")
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)).cast("double"), 6))
    },

    // the skew card's actionable half: per hot user_id, the salt factor
    // capping its self-join output at 50k rows/task — integer ceil
    // division, same count-table-only envelope
    "q_salting_plan" -> { (s, dir) =>
      val e = events(s, dir).select("user_id")
      graft.plans.JoinSkew.saltingPlan(e, e, "user_id",
        targetRows = 50000L, topN = 20)
    },

    // the planted-skew join family: a planted hot key (every 3rd event
    // on k = 0) joined to a per-key dimension as the PLAIN join, with
    // AQE's skew split (OptimizeSkewedJoin) breaking up the hot
    // partition at fixture thresholds ([[aqeSkewJoin]] fails if the
    // split did not fire; measurements in BASELINE.md "AQE skew split
    // vs the salted rewrite"). The oracles are the plain joins, so the
    // hash gate proves the split result-identical every round
    "q_salted_join" -> { (s, dir) =>
      val e = plantedHotKey(s, dir)
      val r = e.groupBy("k").agg(count(lit(1)).cast("bigint").as("n_r"))
        .localCheckpoint(true)
      aqeSkewJoin(s) {
        spreadFact(e).join(r, Seq("k"))
          .select("event_id", "k", "value", "n_r")
      }
    },

    // the ENRICHMENT shape: the planted-hot-key stream LEFT-joining a
    // registry MISSING every key ≡ 2 (mod 5); the plain LEFT JOIN
    // oracle covers the null-filled n_r rows
    "q_salted_join_rewrite_outer" -> { (s, dir) =>
      val e = plantedHotKey(s, dir)
      val r = e.filter(col("k") % 5 =!= 2)
        .groupBy("k").agg(count(lit(1)).cast("bigint").as("n_r"))
        .localCheckpoint(true)
      aqeSkewJoin(s) {
        spreadFact(e).join(r, Seq("k"), "left")
          .select("event_id", "k", "value", "n_r")
      }
    },

    // the FILTER shape: the planted-hot-key stream anti-joined against a
    // blocklist that CONTAINS the hot key plus every key ≡ 0 (mod 7);
    // the oracle is the plain NOT EXISTS
    "q_salted_join_rewrite_anti" -> { (s, dir) =>
      val e = plantedHotKey(s, dir)
      val block = e.filter(col("k") % 7 === 0).select("k").distinct()
        .localCheckpoint(true)
      // the spread is checkpointed here: the optimizer pushes a left
      // anti join below a repartition, which would leave the join
      // reading the one-task scan. A lazy checkpoint runs the spread's
      // shuffle now and stores its rows as the join's map stage reads
      // them, a job fewer than an eager one
      val spread = spreadFact(e).localCheckpoint(false)
      aqeSkewJoin(s) {
        spread.join(block, Seq("k"), "left_anti")
          .select("event_id", "k", "value")
      }
    },

    // a COMPOSITE key, the (tenant_id, day) production shape: a planted
    // hot TUPLE (k = 0, day = 7) on every 3rd event, the rest spread
    // over (≤ 500 keys × 5 days); the oracle is the plain two-key join
    "q_salted_join_rewrite_multi" -> { (s, dir) =>
      val e = plantedHotKey(s, dir,
        when(col("event_id") % 3 === 0, 7L)
          .otherwise(pmod(col("event_id"), lit(5L))).as("day"))
      val r = e.groupBy("k", "day")
        .agg(count(lit(1)).cast("bigint").as("n_r")).localCheckpoint(true)
      aqeSkewJoin(s) {
        spreadFact(e).join(r, Seq("k", "day"))
          .select("event_id", "k", "day", "value", "n_r")
      }
    },

    // FULL OUTER: the planted-hot-key stream FULL-joined to a registry
    // missing every key ≡ 2 (mod 5) and carrying a planted RIGHT-ONLY
    // pile (k = 1000, one row per event_id ≡ 0 (mod 7)). AQE does not
    // split full outer joins, so this entry pins only result identity
    // (matched + left-unmatched + right-unmatched rows) against the
    // plain FULL JOIN oracle; both sides are materialized, the
    // production reconciliation shape of two stored tables
    "q_salted_join_rewrite_full" -> { (s, dir) =>
      val e = plantedHotKey(s, dir).localCheckpoint(true)
      val r = e.filter(col("k") % 5 =!= 2)
        .groupBy("k").agg(count(lit(1)).cast("bigint").as("n_r"))
        .unionAll(events(s, dir).filter(col("event_id") % 7 === 0)
          .select(lit(1000L).as("k"),
            col("event_id").cast("long").as("n_r")))
        .localCheckpoint(true)
      aqeSkewJoin(s, requireSplit = false) {
        e.join(r, Seq("k"), "full").select("event_id", "k", "value", "n_r")
      }
    },

    // hourly per-type metrics roll-up — tumbling windows via date_trunc
    // STREAM-STATIC enrichment join, completing the streaming join
    // matrix (static / stream-stream inner / stream-stream outer): each
    // micro-batch joins against the broadcast-able static dimension with
    // NO state at all — which is exactly why the replay must equal the
    // batch join for ANY batch slicing, pinned here across 3 batches
    "q_stream_static_join" -> { (s, dir) =>
      val e = events(s, dir).select("event_id", "ts", "user_id", "event_type")
      val dim = s.table("customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      streamReplay(s,
        (0 to 2).map(i => e.filter(col("event_id") % 3 === i)),
        src => src.join(dim, col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("event_type"),
            col("c_mktsegment"), col("c_nationkey")),
        Seq("event_id"))
    },

    "q_events_windowed" -> { (s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("HOUR", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(D)).cast("double").as("value_sum"))
        .orderBy("hour", "event_type")
    },

    // Watermarked late-data semantics under the hash gate (SURVEY §2.7
    // watermark aggs): a deterministic 4-micro-batch replay of the events
    // table through a real Structured Streaming query — file source with
    // maxFilesPerTrigger=1 and planted mtimes fixes the batch order, so
    // the run is exactly reproducible and a static oracle can replay the
    // watermark arithmetic. Spark filters late events with the PREVIOUS
    // batch's watermark while evicting state with the current one
    // (SPARK-40925's two-watermark model — empirically pinned here), so
    // the protocol needs a watermark-advancing batch BETWEEN the bulk and
    // the late rows: batch 1 = the bulk of the timeline; batch 2 = a thin
    // mid slice whose only job is aging the late-filter watermark to
    // max(batch-1 ts) − 48h; batch 3 = held-back rows (event_id % 7),
    // dropped iff their window end predates that watermark; batch 4 = the
    // timeline tail, advancing the final watermark so surviving late
    // rows' windows finalize. Append mode then emits exactly the windows
    // whose end the final watermark passed — all three regimes
    // (late-dropped, late-but-kept, unfinalized) are visible in the
    // output and hashed.
    "q_events_late_watermark" -> { (s, dir) =>
      val e = events(s, dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
      val isTail = col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp")
      val isHeld = !isTail && col("event_id") % 7 === 0
      val isMid = !isTail && !isHeld && col("event_id") % 101 === 0
      streamReplay(s,
        Seq(e.filter(!isTail && !isHeld && !isMid), e.filter(isMid),
          e.filter(isHeld), e.filter(isTail)),
        src => src
          .withWatermark("ts", "48 hours")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(D)).cast("double").as("value_sum"))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("value_sum")),
        Seq("window_start", "event_type"))
    },

    // dropDuplicatesWithinWatermark's state-expiry tradeoff under the
    // hash gate: ingestion dedup keeps a key in state only until the
    // watermark passes its expiry (first-seen ts + delay), so a key
    // RE-OCCURRING later is re-admitted — bounded state means dedup
    // within the delay horizon, not forever. The replay plants
    // re-occurrences (same event_id, ts shifted +10 days) after a
    // watermark-advancing tail batch; with delay=5d the three regimes
    // split by the ms-floored batch-1 watermark W = max(batch-1 ts) − 5d
    // (empirically pinned: BOTH the late filter and state-aliveness a
    // batch observes use the PREVIOUS batch's displayed watermark — the
    // same lag-one model as q_events_late_watermark, and expiry is
    // first-seen ts + delay, never extended by dropped duplicates):
    // shifted-ts <= W → dropped late; original ts + 5d > W → dropped as
    // in-state duplicate; in between → state expired, row re-emitted.
    "q_stream_dedup_rearm" -> { (s, dir) =>
      val e = events(s, dir)
        .select("event_id", "ts", "event_type", "value")
      val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
      val bulk = e.filter(col("ts") < cutoff)
      val tail = e.filter(col("ts") >= cutoff)
      val reoccur = bulk.filter(col("event_id") % 3 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 10 DAYS"))
      streamReplay(s, Seq(bulk, tail, reoccur),
        src => src
          .withWatermark("ts", "5 days")
          .dropDuplicatesWithinWatermark("event_id"),
        Seq("event_id", "ts"))
    },

    // The stateful streaming sessionizer (flatMapGroupsWithState +
    // event-time timeout) end-to-end under the hash gate: batch 1 = the
    // whole event log (each user's history lands in ONE batch, so the
    // in-batch interval merge is the deterministic time-sorted fold);
    // batch 2 = one synthetic watermark-advance row (user -1, max ts +
    // 7.5h) whose only job is pushing the final watermark past every
    // real user's last-event + 6h gap, so the event-time timeouts flush
    // every open session in the AvailableNow no-data batch. The streamed
    // output then equals batch gap-sessionization EXACTLY (the
    // algorithm-independent oracle); the -1 user's own open session
    // stays unflushed and never appears. value_sum is projected away —
    // it folds doubles in merge order, which a SQL oracle cannot replay
    // ulp-exactly; start/end/n are order-proof.
    "q_stream_sessions" -> { (s, dir) =>
      val e = events(s, dir).select(
        col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      val maxMs = e.agg(max(unix_millis(col("ts")))).collect()(0).getLong(0)
      val advance = s.range(1).select(
        lit(-1L).as("event_id"),
        timestamp_millis(lit(maxMs + 27000000L)).as("ts"),
        lit(-1L).as("user_id"), lit("advance").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      streamReplay(s, Seq(e, advance),
        src => graft.streaming.StreamingPipeline.sessionizeStream(
            src.as[graft.dml.events.Event](
              org.apache.spark.sql.Encoders.product[graft.dml.events.Event]),
            gapSeconds = 6 * 3600, watermark = "1 hour")
          .toDF.select("user_id", "session_start", "session_end", "n_events"),
        Seq("user_id", "session_start"))
    },

    // STREAM-STREAM watermarked interval join under the hash gate: views
    // and purchases arrive as two independent multi-batch streams and
    // join on (user, purchase within 2h after the view) — attribution,
    // the canonical stream-stream workload. Each side is split into
    // interleaved micro-batches (halves by event_id parity), so matches
    // routinely pair rows from DIFFERENT batches and both sides' state
    // buffering is genuinely exercised. Watermarks are generous (90
    // days — the fixture spans one month) so nothing expires: an inner interval join then emits
    // exactly the batch join — the algorithm-independent oracle — no
    // matter how the files are sliced. The tight-watermark expiry
    // behavior (late views dropping matches) is pinned separately in
    // EventQueriesSpec.
    "q_stream_interval_join" -> { (s, dir) =>
      val e = events(s, dir).select("event_id", "ts", "user_id", "event_type")
      def halves(df: DataFrame): Seq[DataFrame] =
        (0 to 1).map(i => df.filter(col("event_id") % 2 === i))
      streamReplay2(s,
        halves(e.filter(col("event_type") === "view")),
        halves(e.filter(col("event_type") === "purchase")),
        (views, purchases) => {
          val v = views.withWatermark("ts", "90 days")
            .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
              col("user_id"))
          val p = purchases.withWatermark("ts", "90 days")
            .select(col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"), col("user_id").as("p_user"))
          v.join(p, col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") <= col("view_ts") + expr("INTERVAL 2 HOURS"))
            .select("view_id", "purchase_id", "user_id",
              "view_ts", "purchase_ts")
        },
        Seq("view_id", "purchase_id"))
    },

    // LEFT OUTER stream-stream interval join: the null (no-conversion)
    // rows can only emit when the WATERMARK passes a view's join
    // horizon — outer emission is watermark-driven state finalization,
    // the semantics this entry pins. Batches are TIME-ordered (month
    // halves) so a 1h delay never late-drops anything: a purchase can
    // only match a view whose horizon is still open, and a view is only
    // finalized once every purchase that could match it must already
    // have arrived — which is exactly why the streamed result equals
    // the batch LEFT JOIN. A far-future advance batch on BOTH sides
    // (min-watermark policy) pushes the final watermark past every real
    // view's horizon so the last views finalize too; the advance view
    // itself never finalizes (its constant far-future horizon outruns
    // every watermark the replay reaches), so no output filter is needed
    // — and none is safe to add (see the pushdown note below).
    "q_stream_interval_join_outer" -> { (s, dir) =>
      val e = events(s, dir).select("event_id", "ts", "user_id", "event_type")
      val mid = lit("2024-01-16 00:00:00").cast("timestamp")
      val maxMs = e.agg(max(unix_millis(col("ts").cast("timestamp"))))
        .collect()(0).getLong(0)
      def advance(id: Long, user: Long, tpe: String, offMs: Long): DataFrame =
        s.range(1).select(lit(id).as("event_id"),
          timestamp_millis(lit(maxMs + offMs)).as("ts"),
          lit(user).as("user_id"), lit(tpe).as("event_type"))
      // TWO advance batches per side: outer-join null emission is
      // watermark-driven state finalization, and the watermark a batch
      // observes lags the batch that produced it — the first advance
      // raises the watermark, the second commits under it (the final
      // no-data batch alone measured 10 month-tail views short)
      def halves(df: DataFrame, adv: Long => DataFrame): Seq[DataFrame] =
        Seq(df.filter(col("ts") < mid), df.filter(col("ts") >= mid),
          adv(86400000L), adv(172800000L))
      // the VIEW-side advance keeps one constant far-future ts in both
      // advance batches: its own join horizon then sits past every
      // watermark the replay reaches and it never finalizes (a stepped
      // view advance measured one spurious null row — the first step's
      // horizon fell under the second step's watermark)
      streamReplay2(s,
        halves(e.filter(col("event_type") === "view"),
          _ => advance(-1L, -1L, "view", 172800000L)),
        halves(e.filter(col("event_type") === "purchase"),
          off => advance(-2L, -2L, "purchase", off)),
        (views, purchases) => {
          val v = views.withWatermark("ts", "1 hour")
            .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
              col("user_id"))
          val p = purchases.withWatermark("ts", "1 hour")
            .select(col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"), col("user_id").as("p_user"))
          // NO output filter: a predicate like user_id >= 0 gets pushed
          // below the watermark collector and silently kills the advance
          // rows before they advance anything (measured: the join saw 0
          // input rows in every post-advance batch). None is needed —
          // the advance view's own horizon sits beyond every watermark
          // the replay reaches, so it never finalizes and never emits
          v.join(p, col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") <= col("view_ts") + expr("INTERVAL 2 HOURS"),
            "left_outer")
            .select("view_id", "purchase_id", "user_id",
              "view_ts", "purchase_ts")
        },
        Seq("view_id", "purchase_id"))
    },

    // per-user funnel: stage counts + view→purchase conversion flag
    "q_events_funnel" -> { (s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
          min(when(col("event_type") === "view", col("ts"))).as("first_view"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .withColumn("converted",
          col("first_view").isNotNull && col("first_purchase").isNotNull &&
            (col("first_purchase") > col("first_view")))
        .select("user_id", "n_view", "n_click", "n_purchase", "converted")
        .orderBy("user_id")
    },

    // time-series lag + rolling mean per user (DSL.md:88-95 lag features):
    // windows hash-partitioned by user, sorted within partition only
    "q_events_lag" -> { (s, dir) =>
      val e = events(s, dir)
      val lagged = graft.dml.runtime.TimeSeries.lagFeatures(
        e, "user_id", "ts", "value", Seq(1), "event_id")
      graft.dml.runtime.TimeSeries.rollingMean(
        lagged, "user_id", "ts", "value", 3, "event_id")
        .select("user_id", "event_id", "value", "value_lag_1", "value_ma_3")
    },

    // as-of join (point-in-time lookup): each purchase gets the user's most
    // recent prior click — one shuffle via the union+window AsOf operator,
    // never a per-key range cross product. DuckDB's native ASOF JOIN is the
    // oracle. (user_id, ts) is unique in the fixture, so "most recent" is
    // well-defined on both engines.
    // point-in-interval range join via bucketization: events landing in
    // 36-hour attribution windows anchored on sampled events. Catalyst
    // would plan the raw BETWEEN predicate as a nested loop; the bucketed
    // form is a plain equi-join on the time bucket (scale/RangeJoin.scala)
    // and the oracle is the algorithm-independent naive range predicate
    "q_events_range_join" -> { (s, dir) =>
      val e = events(s, dir)
      val win = e.filter(col("event_id") % 499 === 0)
        .select(col("event_id").as("window_id"), col("ts").as("lo"),
          (col("ts") + expr("INTERVAL 36 HOURS")).as("hi"))
      graft.scale.RangeJoin.pointInInterval(
        e.select("event_id", "ts"), "ts", win, "lo", "hi",
        bucketWidthSec = 24 * 3600)
        .select("event_id", "window_id")
    },

    // the range join as ENGINE BEHAVIOR: the SAME point-in-interval
    // join written as a PLAIN range-predicate join — which Catalyst
    // alone plans as a BroadcastNestedLoopJoin — rewritten
    // automatically by the conf-gated RangeJoinRewrite rule into the
    // bucketed equi-join + exact re-filter, at the measured width (the
    // windows' median span, 36 hours). The oracle is the naive range
    // predicate, so the hash gate re-proves the rewrite's result
    // identity every round
    "q_range_join_rewrite" -> { (s, dir) =>
      val e = events(s, dir)
      val win = e.filter(col("event_id") % 499 === 0)
        .select(col("event_id").as("window_id"), col("ts").as("lo"),
          (col("ts") + expr("INTERVAL 36 HOURS")).as("hi"))
      rangeRewritten(s) {
        e.select("event_id", "ts")
          .join(win, col("ts") >= col("lo") && col("ts") <= col("hi"))
          .select("event_id", "window_id")
      }
    },

    // the KEYED range join as engine behavior: the production
    // (key, ts BETWEEN lo AND hi) shape — events joined to PER-TYPE
    // time windows. event_type is LOW-cardinality, so each planner
    // hash group is a per-type cartesian scanned by the range filter;
    // the rule lifts the equality into the bucketed join's key list
    // (the shuffle partitions on (type, bucket)) once the hottest
    // type's candidate pairs reach RangeJoinRewrite.KeyedLiftPairs.
    // That happens at sf0.1 (about 2.0 M pairs); at sf0.001 and sf0.01
    // (420 and 25,753 pairs) the planner's hash join stays. The oracle
    // is the naive equality+range predicate, so the hash gate proves
    // either plan's identity every round
    "q_range_join_keyed" -> { (s, dir) =>
      val e = events(s, dir)
      val win = e.filter(col("event_id") % 223 === 0)
        .select(col("event_id").as("window_id"),
          col("event_type").as("wtype"), col("ts").as("lo"),
          (col("ts") + expr("INTERVAL 36 HOURS")).as("hi"))
      rangeRewritten(s) {
        e.select("event_id", "event_type", "ts")
          .join(win, col("event_type") === col("wtype") &&
            col("ts") >= col("lo") && col("ts") <= col("hi"))
          .select("event_id", "event_type", "window_id")
      }
    },

    // the range rewrite on a NUMERIC band: value bands ±1.0 around
    // sampled anchor scores — lo goes NEGATIVE at the distribution's
    // left edge, exercising the floor-of-negative-quotient bucketing
    // at the measured (double) width. Catalyst alone plans the BETWEEN
    // as a BroadcastNestedLoopJoin; the oracle is the naive predicate,
    // so the hash gate re-proves the numeric path's result identity
    // every round
    "q_range_join_rewrite_num" -> { (s, dir) =>
      val e = events(s, dir)
      val win = e.filter(col("event_id") % 997 === 0)
        .select(col("event_id").as("window_id"),
          (col("value") - 1.0).as("lo"), (col("value") + 1.0).as("hi"))
      rangeRewritten(s) {
        e.select(col("event_id"), col("value"))
          .join(win, col("value") >= col("lo") && col("value") <= col("hi"))
          .select("event_id", "window_id")
      }
    },

    // cohort retention: users grouped by first-activity day; for each
    // (cohort, day-offset) the distinct users still active. Two keyed
    // partial aggregations + one user-keyed join — no windows, no
    // self-join; shuffles carry (user, day) pairs, never raw events
    // purged temporal 80/gap/20 split: cut at the type-1 quantile of the
    // minute-bucketed timestamp histogram, one day of purge buffer
    "q_temporal_split" -> { (s, dir) =>
      graft.llm.Sampling.temporalSplit(
        events(s, dir).select("event_id", "ts"), "ts",
        trainPct = 80, gapMinutes = 1440)
    },

    "q_events_retention" -> { (s, dir) =>
      val activity = events(s, dir)
        .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
        .distinct()
      val cohorts = activity.groupBy("user_id")
        .agg(min("day").as("cohort_day"))
      activity.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(countDistinct("user_id").as("n_users"))
    },

    // PSI drift per event type between the first and second half of the
    // timeline: fixed width-25 bins clamped to 20, Laplace-smoothed,
    // contributions rounded then decimal-summed (partition-order-proof)
    "q_events_psi" -> { (s, dir) =>
      val e = events(s, dir)
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      graft.dml.events.Agents.psiDrift(
        e.filter(col("ts") < cut), e.filter(col("ts") >= cut),
        "value", Seq("event_type"), binWidth = 25.0, nBins = 20)
    },

    "q_events_asof" -> { (s, dir) =>
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.scale.AsOf.asOfJoin(purchases, clicks, Seq("user_id"),
        leftTs = "ts", rightTs = "ts",
        payload = Seq("click_id", "click_value"))
    },

    // gap-based sessionization (6h inactivity closes a session): lag flag +
    // running sum assigns session ids in one keyed window pass, then a
    // grouped rollup — the standard two-shuffle sessionizer that survives
    // any scale because state never leaves the user's hash partition.
    "q_events_sessions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("_prev", lag(col("ts"), 1).over(byUser))
        .withColumn("_new", when(col("_prev").isNull ||
          col("ts").cast("timestamp").cast("long") -
            col("_prev").cast("timestamp").cast("long") > 6 * 3600,
          1L).otherwise(0L))
        .withColumn("session_idx", sum(col("_new")).over(cum))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts")).cast("timestamp").cast("long") -
            min(col("ts")).cast("timestamp").cast("long"))
            .as("dur_seconds"))
    },

    // drift windows: reference vs current value statistics (decimal-exact)
    // priority pub/sub delivery order (DISTRIBUTED.md:188-193): priority
    // assignment is a CASE projection; the delivery position is the
    // distributed sort-rank (range partition + broadcast offsets), never
    // one global row_number window
    "q_events_priority" -> { (s, dir) =>
      val e = events(s, dir)
      graft.dml.events.Events.deliveryOrder(
        e.select("event_id", "ts", "event_type", "value"),
        graft.dml.events.Events.priorityOf(col("event_type"),
          Map("error" -> 1, "purchase" -> 2)))
        .select("event_id", "event_type", "priority", "deliver_pos")
    },

    "q_events_drift_windows" -> { (s, dir) =>
      events(s, dir)
        .groupBy(when(col("ts") < lit("2024-01-02 00:00:00").cast("timestamp"),
          "ref").otherwise("cur").as("win"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(D)).cast("double").as("value_sum"),
          sum((col("value") * col("value")).cast(DecimalType(28, 8)))
            .cast("double").as("value_sq_sum"))
        .orderBy("win")
    })

  def oracles: Map[String, String] = Map(
    // replays the key-count tables, the hot-key top-20 (out_rows DESC,
    // key ASC), and the NULL-key total with top-20 concentration
    "q_join_skew_card" ->
      """WITH c AS (
        |  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |j AS (
        |  SELECT key, n AS n_left, n AS n_right,
        |    CAST(n * n AS BIGINT) AS out_rows
        |  FROM c),
        |tot AS (
        |  SELECT CAST(sum(n_left) AS BIGINT) AS n_left,
        |    CAST(sum(n_right) AS BIGINT) AS n_right,
        |    CAST(sum(out_rows) AS BIGINT) AS out_rows
        |  FROM j),
        |top AS (
        |  SELECT * FROM j ORDER BY out_rows DESC, key ASC LIMIT 20)
        |SELECT t.key, false AS is_total, t.n_left, t.n_right, t.out_rows,
        |  CASE WHEN tot.out_rows = 0 THEN NULL
        |    ELSE round(CAST(t.out_rows AS DOUBLE) / tot.out_rows, 6) END
        |    AS out_share
        |FROM top t CROSS JOIN tot
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT) AS key, true AS is_total,
        |  tot.n_left, tot.n_right, tot.out_rows,
        |  CASE WHEN tot.out_rows = 0 THEN NULL
        |    ELSE round(CAST((SELECT sum(out_rows) FROM top) AS DOUBLE)
        |      / tot.out_rows, 6) END AS out_share
        |FROM tot""".stripMargin,

    // per-user lead over the unique (ts, event_id) order, cell counts,
    // and the partitioned row-share window
    "q_event_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS f,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS nx
        |  FROM events),
        |c AS (
        |  SELECT f AS from_type, nx AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE nx IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
        |    AS prob
        |FROM c""".stripMargin,

    // algorithm-independent oracle: the PLAIN inner join — the
    // skew-split plan must emit exactly this set
    "q_salted_join" ->
      """WITH l AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN 0
        |      ELSE user_id % 500 + 1 END AS k,
        |    value
        |  FROM events),
        |r AS (SELECT k, CAST(count(*) AS BIGINT) AS n_r FROM l GROUP BY 1)
        |SELECT l.event_id, l.k, l.value, r.n_r
        |FROM l JOIN r USING (k)""".stripMargin,

    // identical plain LEFT JOIN oracle, null-filled rows included
    "q_salted_join_rewrite_outer" ->
      """WITH l AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN 0
        |      ELSE user_id % 500 + 1 END AS k,
        |    value
        |  FROM events),
        |r AS (SELECT k, CAST(count(*) AS BIGINT) AS n_r FROM l
        |      WHERE k % 5 <> 2 GROUP BY 1)
        |SELECT l.event_id, l.k, l.value, r.n_r
        |FROM l LEFT JOIN r USING (k)""".stripMargin,

    // identical plain anti-join (NOT EXISTS) oracle
    "q_salted_join_rewrite_anti" ->
      """WITH l AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN 0
        |      ELSE user_id % 500 + 1 END AS k,
        |    value
        |  FROM events),
        |b AS (SELECT DISTINCT k FROM l WHERE k % 7 = 0)
        |SELECT l.event_id, l.k, l.value
        |FROM l WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.k = l.k)"""
        .stripMargin,

    // identical plain two-key join oracle
    "q_salted_join_rewrite_multi" ->
      """WITH l AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN 0
        |      ELSE user_id % 500 + 1 END AS k,
        |    CASE WHEN event_id % 3 = 0 THEN 7
        |      ELSE event_id % 5 END AS day,
        |    value
        |  FROM events),
        |r AS (SELECT k, day, CAST(count(*) AS BIGINT) AS n_r
        |      FROM l GROUP BY 1, 2)
        |SELECT l.event_id, l.k, l.day, l.value, r.n_r
        |FROM l JOIN r USING (k, day)""".stripMargin,

    // identical plain FULL JOIN oracle with the coalesced key: matched
    // rows, left-unmatched null-fills (keys ≡ 2 mod 5), and the planted
    // right-only pile (k = 1000) null-filled on the left
    "q_salted_join_rewrite_full" ->
      """WITH l AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN 0
        |      ELSE user_id % 500 + 1 END AS k,
        |    value
        |  FROM events),
        |r AS (SELECT k, CAST(count(*) AS BIGINT) AS n_r FROM l
        |      WHERE k % 5 <> 2 GROUP BY 1
        |      UNION ALL
        |      SELECT 1000 AS k, CAST(event_id AS BIGINT) AS n_r
        |      FROM events WHERE event_id % 7 = 0)
        |SELECT l.event_id, COALESCE(l.k, r.k) AS k, l.value, r.n_r
        |FROM l FULL JOIN r ON l.k = r.k""".stripMargin,


    // the skew-card replay filtered to key rows with the integer-ceil
    // salt factor, capped at n_left (r17: a factor beyond the left row
    // count splits nothing and only multiplies the replicated side)
    "q_salting_plan" ->
      """WITH c AS (
        |  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |j AS (
        |  SELECT key, n AS n_left, n AS n_right,
        |    CAST(n * n AS BIGINT) AS out_rows
        |  FROM c),
        |top AS (
        |  SELECT * FROM j ORDER BY out_rows DESC, key ASC LIMIT 20)
        |SELECT key, n_left, n_right, out_rows,
        |  CAST(LEAST((out_rows + 50000 - 1) // 50000, n_left)
        |    AS BIGINT) AS salt
        |FROM top""".stripMargin,

    "q_events_windowed" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    // algorithm-independent oracle: the plain batch join — a stream-
    // static join is stateless per batch, so slicing can never matter
    "q_stream_static_join" ->
      """SELECT e.event_id, e.event_type, c.c_mktsegment, c.c_nationkey
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,

    // algorithm-independent oracle: the plain batch interval join — with
    // generous watermarks nothing expires, so the streamed inner join
    // must emit exactly this set regardless of file slicing
    "q_stream_interval_join" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, ts AS view_ts, user_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id AS purchase_id, ts AS purchase_ts, user_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.view_id, p.purchase_id, v.user_id, v.view_ts, p.purchase_ts
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.purchase_ts >= v.view_ts
        |  AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin,

    // algorithm-independent oracle for the OUTER form: the batch LEFT
    // JOIN — watermark-driven finalization must add exactly the
    // unmatched views as null rows and nothing else
    "q_stream_interval_join_outer" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, ts AS view_ts, user_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id AS purchase_id, ts AS purchase_ts, user_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.view_id, p.purchase_id, v.user_id, v.view_ts, p.purchase_ts
        |FROM v LEFT JOIN p ON v.user_id = p.user_id
        |  AND p.purchase_ts >= v.view_ts
        |  AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOUR""".stripMargin,

    // Replays the 4-batch watermark protocol statically: Spark's event-time
    // watermark is the ms-FLOORED max event time minus the 48h delay
    // (EventTimeWatermarkExec tracks µs/1000), hence the epoch_ms
    // round-trip. The late filter for the held batch is the watermark the
    // PREVIOUS (mid) batch ran with — max of batch-1 timestamps − 48h
    // (SPARK-40925's lag-one model, empirically pinned by this entry) —
    // so a held row survives iff its window end outlives that; append
    // mode emits exactly the windows whose end the FINAL watermark
    // passed. Window ends are hour-aligned and both watermarks land µs
    // off-hour, so no boundary-equality convention can bite.
    "q_events_late_watermark" ->
      """WITH src AS (
        |  SELECT *, date_trunc('hour', ts) AS ws,
        |         date_trunc('hour', ts) + INTERVAL 1 HOUR AS we,
        |         ts >= TIMESTAMP '2024-01-25 00:00:00' AS tail,
        |         (ts < TIMESTAMP '2024-01-25 00:00:00'
        |          AND event_id % 7 = 0) AS held,
        |         (ts < TIMESTAMP '2024-01-25 00:00:00'
        |          AND event_id % 7 <> 0 AND event_id % 101 = 0) AS mid
        |  FROM events),
        |wmh AS (SELECT make_timestamp((epoch_ms(max(ts)) - 172800000) * 1000) AS w
        |        FROM src WHERE NOT tail AND NOT held AND NOT mid),
        |wmf AS (SELECT make_timestamp((epoch_ms(max(ts)) - 172800000) * 1000) AS w
        |        FROM src)
        |SELECT ws AS window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM src
        |WHERE (NOT held OR we > (SELECT w FROM wmh))
        |  AND we <= (SELECT w FROM wmf)
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,

    // Replays the dedup-rearm protocol statically: W = ms-floored
    // max(batch-1 ts) − 5d is both the late filter and the
    // state-aliveness watermark the re-occurrence batch observes
    // (lag-one model). A re-occurrence (ts shifted +10d) emits iff it is
    // not late (shifted ts > W) and its key's state expired
    // (original ts + 5d <= W). Timestamps are µs-grained and W is
    // ms-floored, so boundary-equality conventions cannot bite.
    "q_stream_dedup_rearm" ->
      """WITH bulk AS (
        |  SELECT event_id, ts, event_type, value FROM events
        |  WHERE ts < TIMESTAMP '2024-01-25 00:00:00'),
        |tl AS (
        |  SELECT event_id, ts, event_type, value FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'),
        |re AS (
        |  SELECT event_id, ts + INTERVAL 10 DAY AS ts, event_type, value
        |  FROM bulk WHERE event_id % 3 = 0),
        |wm AS (SELECT make_timestamp((epoch_ms(max(ts)) - 432000000) * 1000)
        |         AS w FROM bulk)
        |SELECT event_id, ts, event_type, value FROM bulk
        |UNION ALL
        |SELECT event_id, ts, event_type, value FROM tl
        |UNION ALL
        |SELECT event_id, ts, event_type, value FROM re
        |WHERE ts > (SELECT w FROM wm)
        |  AND ts - INTERVAL 10 DAY + INTERVAL 5 DAY <= (SELECT w FROM wm)
        |ORDER BY event_id, ts""".stripMargin,

    // The algorithm-independent sessionization ground truth: gap-break
    // flags + running sum assign session ids, then min/max/count per
    // session. Timestamps fold through epoch_ms because the streaming
    // side's state stores Timestamp.getTime — ms-floored µs.
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events),
        |f AS (
        |  SELECT user_id, event_id, tms,
        |    CASE WHEN lag(tms) OVER w IS NULL
        |           OR tms - lag(tms) OVER w > 21600000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
        |g AS (
        |  SELECT user_id, tms,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tms, event_id)
        |      AS sid
        |  FROM f)
        |SELECT user_id,
        |  make_timestamp(min(tms) * 1000) AS session_start,
        |  make_timestamp(max(tms) * 1000) AS session_end,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_events_funnel" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  (MIN(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL
        |   AND MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
        |   AND MIN(CASE WHEN event_type = 'purchase' THEN ts END)
        |     > MIN(CASE WHEN event_type = 'view' THEN ts END)) AS converted
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_events_lag" ->
      """SELECT user_id, event_id, value,
        |  lag(value, 1) OVER w AS value_lag_1,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
        |    (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  / COUNT(*) OVER
        |    (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS value_ma_3
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin,

    // the minute-quantile cut replays all-integer (cum*100 >= n*pct)
    "q_temporal_split" ->
      """WITH m AS (
        |  SELECT date_trunc('minute', ts) AS mn, count(*) AS c
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |w AS (
        |  SELECT mn, c,
        |    sum(c) OVER (ORDER BY mn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS n
        |  FROM m),
        |q AS (
        |  SELECT min(CASE WHEN cum * 100 >= n * 80 THEN mn END) AS cut
        |  FROM w)
        |SELECT event_id, ts,
        |  CASE WHEN ts IS NULL THEN NULL
        |    WHEN date_trunc('minute', ts) <= cut THEN 'train'
        |    WHEN date_trunc('minute', ts) <= cut + INTERVAL 1440 MINUTE
        |      THEN 'purged'
        |    ELSE 'test' END AS split
        |FROM events CROSS JOIN q""".stripMargin,

    "q_events_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT f.cohort_day,
        |  CAST(date_diff('day', f.cohort_day, a.day) AS INTEGER) AS day_offset,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q_events_psi" ->
      """WITH r AS (
        |  SELECT event_type,
        |    LEAST(GREATEST(CAST(floor(value / 25.0) AS INTEGER), 0), 19) AS bin
        |  FROM events
        |  WHERE ts < TIMESTAMP '2024-01-16 00:00:00' AND value IS NOT NULL),
        |c AS (
        |  SELECT event_type,
        |    LEAST(GREATEST(CAST(floor(value / 25.0) AS INTEGER), 0), 19) AS bin
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' AND value IS NOT NULL),
        |rb AS (SELECT event_type, bin, count(*) AS c_ref FROM r GROUP BY 1, 2),
        |cb AS (SELECT event_type, bin, count(*) AS c_cur FROM c GROUP BY 1, 2),
        |rt AS (SELECT event_type, count(*) AS n_ref FROM r GROUP BY 1),
        |ct AS (SELECT event_type, count(*) AS n_cur FROM c GROUP BY 1),
        |j AS (
        |  SELECT coalesce(rb.event_type, cb.event_type) AS event_type,
        |    coalesce(rb.bin, cb.bin) AS bin,
        |    coalesce(c_ref, 0) AS c_ref, coalesce(c_cur, 0) AS c_cur
        |  FROM rb FULL OUTER JOIN cb
        |    ON rb.event_type = cb.event_type AND rb.bin = cb.bin),
        |k AS (
        |  SELECT j.event_type,
        |    (n_ref IS NULL OR n_cur IS NULL) AS one_sided,
        |    CASE WHEN n_ref IS NULL OR n_cur IS NULL THEN NULL
        |    ELSE CAST(round(
        |      (  CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + 20 AS DOUBLE)
        |       - CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + 20 AS DOUBLE))
        |      * ln((CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + 20 AS DOUBLE))
        |          / (CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + 20 AS DOUBLE))),
        |      6) AS DECIMAL(18,6)) END AS contrib
        |  FROM j LEFT JOIN rt USING (event_type) LEFT JOIN ct USING (event_type))
        |SELECT event_type,
        |  CASE WHEN bool_or(one_sided) THEN CAST('infinity' AS DOUBLE)
        |       ELSE CAST(sum(contrib) AS DOUBLE) END AS psi,
        |  CAST(count(*) AS BIGINT) AS n_bins
        |FROM k GROUP BY event_type""".stripMargin,

    "q_range_join_keyed" ->
      """SELECT e.event_id, e.event_type, w.window_id
        |FROM events e JOIN (
        |  SELECT event_id AS window_id, event_type AS wtype, ts AS lo,
        |    ts + INTERVAL 36 HOUR AS hi
        |  FROM events WHERE event_id % 223 = 0) w
        |ON e.event_type = w.wtype AND e.ts >= w.lo AND e.ts <= w.hi"""
        .stripMargin,

    "q_events_range_join" ->
      """SELECT e.event_id, w.window_id
        |FROM events e JOIN (
        |  SELECT event_id AS window_id, ts AS lo,
        |    ts + INTERVAL 36 HOUR AS hi
        |  FROM events WHERE event_id % 499 = 0) w
        |ON e.ts >= w.lo AND e.ts <= w.hi""".stripMargin,

    // identical naive-predicate oracle for the NUMERIC band rewrite
    "q_range_join_rewrite_num" ->
      """SELECT e.event_id, w.window_id
        |FROM events e JOIN (
        |  SELECT event_id AS window_id, value - 1.0 AS lo,
        |    value + 1.0 AS hi
        |  FROM events WHERE event_id % 997 = 0) w
        |ON e.value >= w.lo AND e.value <= w.hi""".stripMargin,

    // identical naive-predicate oracle: the optimizer-rule path must
    // emit exactly the nested loop's set
    "q_range_join_rewrite" ->
      """SELECT e.event_id, w.window_id
        |FROM events e JOIN (
        |  SELECT event_id AS window_id, ts AS lo,
        |    ts + INTERVAL 36 HOUR AS hi
        |  FROM events WHERE event_id % 499 = 0) w
        |ON e.ts >= w.lo AND e.ts <= w.hi""".stripMargin,

    "q_events_asof" ->
      """SELECT p.event_id, p.user_id, p.ts, p.value,
        |  c.event_id AS click_id, c.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,

    "q_events_sessions" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 21600
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM x),
        |c AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_idx
        |  FROM f)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS dur_seconds
        |FROM c GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "q_events_priority" ->
      """SELECT event_id, event_type,
        |  CASE event_type WHEN 'error' THEN 1 WHEN 'purchase' THEN 2
        |    ELSE 5 END AS priority,
        |  row_number() OVER (ORDER BY
        |    CASE event_type WHEN 'error' THEN 1 WHEN 'purchase' THEN 2
        |      ELSE 5 END, ts NULLS LAST, event_id) AS deliver_pos
        |FROM events""".stripMargin,

    "q_events_drift_windows" ->
      """SELECT CASE WHEN ts < TIMESTAMP '2024-01-02 00:00:00'
        |  THEN 'ref' ELSE 'cur' END AS win,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        |  CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS value_sq_sum
        |FROM events GROUP BY 1 ORDER BY win""".stripMargin)

  def verifySort: Map[String, Seq[String]] = Map(
    "q_join_skew_card" -> Seq("is_total", "key"),
    "q_salting_plan" -> Seq("key"),
    "q_salted_join" -> Seq("event_id"),
    "q_salted_join_rewrite_outer" -> Seq("event_id"),
    "q_salted_join_rewrite_anti" -> Seq("event_id"),
    "q_salted_join_rewrite_multi" -> Seq("event_id"),
    // right-only rows have NULL event_id; (k, n_r) disambiguates them
    // (the planted pile's n_r values are distinct event ids)
    "q_salted_join_rewrite_full" -> Seq("event_id", "k", "n_r"),
    "q_event_transitions" -> Seq("from_type", "to_type"),
    "q_events_lag" -> Seq("user_id", "event_id"),
    "q_events_asof" -> Seq("event_id"),
    "q_events_range_join" -> Seq("event_id", "window_id"),
    "q_range_join_rewrite" -> Seq("event_id", "window_id"),
    "q_range_join_keyed" -> Seq("event_id", "window_id"),
    "q_range_join_rewrite_num" -> Seq("event_id", "window_id"),
    "q_events_psi" -> Seq("event_type"),
    "q_events_priority" -> Seq("deliver_pos"),
    "q_events_retention" -> Seq("cohort_day", "day_offset"),
    "q_temporal_split" -> Seq("event_id"),
    "q_events_sessions" -> Seq("user_id", "session_idx"),
    "q_stream_interval_join_outer" -> Seq("view_id", "purchase_id"))
}
