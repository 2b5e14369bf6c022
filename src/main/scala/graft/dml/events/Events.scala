package graft.dml.events

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Engine-record type for the event log (typed Dataset surface per SURVEY
  * §1.4 — user data stays DataFrame, the engine's own records are typed). */
final case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

/** Event layer (SURVEY §2.1 S6/S12, §2.7): PUBLISH/SUBSCRIBE over an
  * append-only events table plus WHEN-rule dispatch.
  *
  * The reference specifies pub/sub as durable local log + async propagation
  * (EXTENSIONS.md:194-224) and WHEN … THEN reactive workflows
  * (DSL.md:123-143). Spark-native realization: the log is an append-only
  * parquet directory; batch subscribers filter it, live subscribers run
  * Structured Streaming over the same directory (file source tails new
  * files); rules dispatch inside foreachBatch.
  */
object Events {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The reference's outbound-queue priority assignment
    * (DISTRIBUTED.md:188-193): CASE event_type WHEN … THEN n ELSE default —
    * training.converged=1, training.epoch_complete=3, else 5. */
  val defaultPriorities: Map[String, Int] =
    Map("training.converged" -> 1, "training.epoch_complete" -> 3)

  def priorityOf(
      eventType: Column, mapping: Map[String, Int] = defaultPriorities,
      default: Int = 5): Column =
    mapping.toSeq.sortBy(_._1).foldLeft(lit(default)) {
      case (acc, (t, p)) => when(eventType === t, lit(p)).otherwise(acc)
    }

  /** Priority-queue drain order: every event gets its delivery position —
    * priority ascending, then FIFO (ts, event_id) within a priority.
    *
    * Scale shape: a `row_number() OVER (ORDER BY …)` would be one global
    * window. This is the distributed sort-rank instead (the
    * Sampling.corpusShuffle shape): range-partition on the queue key, rank
    * within each range partition, offset by broadcast per-partition
    * counts. The composition is boundary-independent, so the positions
    * are deterministic, and each window frame holds ~|log|/parallelism
    * rows. The keyed frame is persisted once because the offsets
    * aggregate and the rank join both consume the materialized _pid.
    *
    * Null timestamps sort LAST within their priority (pinned explicitly
    * in both the range partitioner and the intra-partition rank —
    * Spark's default is NULLS FIRST, DuckDB's ORDER BY and the
    * reference's FIFO-of-observed-arrivals are nulls-last; an event that
    * never carried a timestamp drains after every timestamped peer). */
  def deliveryOrder(
      events: DataFrame, priority: Column, parallelism: Int = 32)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = graft.llm.PipelineCaches.track(
      events.withColumn("priority", priority)
        .repartitionByRange(parallelism,
          col("priority").asc, col("ts").asc_nulls_last,
          col("event_id").asc)
        .withColumn("_pid", spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    keyed.count()
    val offsets = keyed.groupBy("_pid").agg(count(lit(1)).as("_c"))
      .withColumn("_offset",
        coalesce(sum("_c").over(
          Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("_pid", "_offset")
    val intra = Window.partitionBy("_pid")
      .orderBy(col("priority").asc, col("ts").asc_nulls_last,
        col("event_id").asc)
    keyed.withColumn("_r", row_number().over(intra))
      .join(broadcast(offsets), Seq("_pid"))
      .withColumn("deliver_pos", col("_offset") + col("_r"))
      .drop("_pid", "_r", "_offset")
  }

  /** Wildcard subscription patterns (EXTENSIONS.md:218's
    * subscribe_to_events takes an event PATTERN): glob `training.*` / `?`
    * forms convert to LIKE with the literal %/_ escaped; anything without
    * a glob metachar passes through as the SQL LIKE pattern it already
    * is (backward compatible). */
  private[events] def patternToLike(p: String): String =
    if (p.exists(c => c == '*' || c == '?'))
      p.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        .replace('*', '%').replace('?', '_')
    else p
}

final class EventBus(spark: SparkSession, path: String) {
  import spark.implicits._

  /** PUBLISH EVENT 'type' WITH PAYLOAD {...} (S12) — appends one file;
    * at scale publishers batch events ([[publishAll]]) and append
    * partitioned files. */
  def publish(
      eventType: String, payload: Map[String, String] = Map.empty,
      value: Double = 0.0, userId: Long = -1L): Unit =
    append(Seq((eventType, payload, value, userId)))

  /** Publish a batch of (type, payload) events as ONE appended file — one
    * write job however many events, in the given order (event ids
    * ascending). An empty batch writes nothing. */
  def publishAll(events: Seq[(String, Map[String, String])]): Unit =
    append(events.map { case (t, p) => (t, p, 0.0, -1L) })

  private def append(events: Seq[(String, Map[String, String], Double, Long)]): Unit =
    if (events.nonEmpty) {
      val id0 = System.nanoTime()
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      events.zipWithIndex.map { case ((eventType, payload, value, userId), i) =>
        val props = payload.map { case (k, v) =>
          s"${graft.dml.PyJson.dumpString(k)}: ${graft.dml.PyJson.dumpString(v)}"
        }.mkString("{", ", ", "}")
        (id0 + i, ts, userId, eventType, value, props)
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1)
        .write.mode("append").parquet(path)
    }

  /** Fold the one-file-per-publish appends into `targetFiles` parquet
    * files — the maintenance counterpart [[publish]]'s doc promises at
    * scale, same crash-safe verified-rename swap as the signature
    * store's `Dedup.compactIndexStore`
    * ([[graft.scale.StoreMaint.replaceStore]]). Rows, order-insensitive
    * content, and every batch subscription are unchanged — batch
    * subscribers re-list the directory per action. A RUNNING streaming
    * subscriber tracks consumed file NAMES, so it would see the
    * compacted file as new data and re-deliver: compact between stream
    * restarts (checkpointed streams re-list on start), or dedup on
    * event_id downstream. Returns the log's row count. */
  def compact(targetFiles: Int = 1): Long = {
    require(targetFiles > 0, "targetFiles must be positive")
    graft.scale.StoreMaint.replaceStore(spark, path,
      spark.read.schema(Events.schema).parquet(path), targetFiles)
  }

  /** SUBSCRIBE TO 'pattern' (batch): SQL LIKE or glob (`training.*`)
    * pattern over the log. */
  def subscribe(pattern: String): DataFrame =
    spark.read.schema(Events.schema).parquet(path)
      .filter(col("event_type").like(Events.patternToLike(pattern)))

  /** Typed view of the same subscription (Dataset[Event] via the
    * case-class Encoder). */
  def subscribeTyped(pattern: String): org.apache.spark.sql.Dataset[Event] =
    subscribe(pattern).as[Event]

  /** Batch subscription in priority delivery order
    * (DISTRIBUTED.md:188-193): rows carry `priority` and `deliver_pos`,
    * the position a drain loop would consume them in. */
  def subscribeOrdered(
      pattern: String,
      priorities: Map[String, Int] = Events.defaultPriorities,
      default: Int = 5): DataFrame =
    Events.deliveryOrder(subscribe(pattern),
      Events.priorityOf(col("event_type"), priorities, default))

  /** Live subscription: Structured Streaming over the log directory;
    * LIKE or glob patterns as in [[subscribe]]. */
  def subscribeStream(pattern: String): DataFrame =
    spark.readStream.schema(Events.schema).parquet(path)
      .filter(col("event_type").like(Events.patternToLike(pattern)))

  /** Live subscription drained in priority order — the continuous form
    * of [[subscribeOrdered]], matching the reference's outbound queue
    * (DISTRIBUTED.md:188-193: the queue drains by priority
    * continuously, not once). Each micro-batch is ranked with
    * [[Events.deliveryOrder]] — priority ascending, FIFO within a
    * priority, `deliver_pos` restarting per batch — and handed to
    * `consume` in drain order; `batch_id` carries the global sequencing
    * (ordering across micro-batches is the stream's arrival order, as
    * in the reference's queue, which can only order what has arrived).
    * deliveryOrder's per-batch persisted intermediates are scoped to the
    * batch and reclaimed after `consume` returns — a long-lived drain
    * accumulates no cache entries. */
  def subscribeStreamOrdered(
      pattern: String,
      checkpointDir: String,
      priorities: Map[String, Int] = Events.defaultPriorities,
      default: Int = 5,
      parallelism: Int = 32,
      trigger: Trigger = Trigger.ProcessingTime(1000L))(
      consume: DataFrame => Unit): StreamingQuery =
    subscribeStream(pattern).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (_, scope) = graft.llm.PipelineCaches.scoped {
          consume(Events.deliveryOrder(batch,
              Events.priorityOf(col("event_type"), priorities, default),
              parallelism)
            .withColumn("batch_id", lit(batchId)))
        }
        scope.clear()
      }
      .start()

  /** Custom streaming state via mapGroupsWithState (brief:
    * "KeyValueGroupedDataset.mapGroupsWithState for custom state"): a
    * running per-user (count, value-total) that survives across
    * micro-batches. State size is bounded by the user-key cardinality. */
  def statefulUserTotals(pattern: String)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    subscribeStream(pattern).as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Event],
         state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          val batch = events.toSeq
          val updated = (n0 + batch.size, v0 + batch.map(_.value).sum)
          state.update(updated)
          (user, updated._1, updated._2)
      }
  }

  /** Metrics materialized view, streaming form (DISTRIBUTED.md:626-654):
    * watermarked tumbling-window counts/sums per event type. Late events
    * beyond the watermark are dropped; state is bounded by
    * (windows in flight × event types). */
  def windowedMetricsStream(
      windowDuration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    spark.readStream.schema(Events.schema).parquet(path)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_sum"))
}

/** WHEN EVENT 'type' WHERE cond THEN action (S6). */
final case class WhenRule(
    name: String,
    eventTypePattern: String,
    condition: Column,
    action: DataFrame => Unit)

final class RuleEngine(rules: Seq[WhenRule]) {

  /** Dispatch rules against a batch of events; returns fired-rule names
    * with match counts. Every rule's count comes from one `count_if`
    * aggregate over the batch — one scan for all rules. A rule matches
    * where its type pattern and its condition are both true (a NULL
    * condition does not match, as in a filter). Each fired rule's action
    * gets its matching rows as a lazy filter over the batch. */
  def dispatchBatch(events: DataFrame): Map[String, Long] =
    if (rules.isEmpty) Map.empty
    else {
      val matches = rules.map(r =>
        col("event_type").like(Events.patternToLike(r.eventTypePattern)) && r.condition)
      val counts = events.agg(count_if(matches.head), matches.tail.map(count_if): _*).head()
      rules.zip(matches).zipWithIndex.flatMap { case ((r, m), i) =>
        val n = counts.getLong(i)
        if (n > 0) { r.action(events.filter(m)); Some(r.name -> n) } else None
      }.toMap
    }

  /** Streaming dispatcher: rules evaluated per micro-batch. */
  def runStream(
      events: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(1000L)): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dispatchBatch(batch); ()
      }
      .start()
}
