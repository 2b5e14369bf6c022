package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Join-skew diagnostic card: hand-computed hot keys, one-sided keys in
  * the totals, NULL join keys as first-class skew rows (round-14 advice
  * fix), and the NULL-share guard on an empty join; the exact pile
  * probe; and AQE's skew split on the planted hot key, the treatment
  * the catalog's skew-join entries rely on. */
class JoinSkewSpec extends AnyFunSuite {

  private def spark = SparkTestSession.withTables()

  test("joinSkewCard: hand-computed products, one-sided key costs " +
    "nothing in output but counts in totals, top-N truncates") {
    val s = spark
    import s.implicits._
    val left = Seq(1L, 1L, 1L, 2L).toDF("k")
    val right = Seq(1L, 2L, 2L, 3L).toDF("k")
    val rows = JoinSkew.joinSkewCard(left, right, "k", topN = 2).collect()
    val byKey = rows.filter(!_.getBoolean(1))
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toMap
    // products: key 1 -> 3*1 = 3, key 2 -> 1*2 = 2, key 3 -> 0*1 = 0
    // (excluded by topN = 2); total output 5
    assert(byKey == Map(
      1L -> ((3L, 1L, 3L, 0.6)),
      2L -> ((1L, 2L, 2L, 0.4))))
    val total = rows.find(_.getBoolean(1)).get
    assert(total.isNullAt(0), "summary key stays NULL")
    assert(total.getLong(2) == 4L && total.getLong(3) == 4L,
      "one-sided key 3 still counts in the input totals")
    assert(total.getLong(4) == 5L)
    assert(total.getDouble(5) == 1.0,
      "top-2 keys own the whole join output here")
  }

  test("joinSkewCard: a genuine NULL join key on both sides is ONE " +
    "data row (null-safe pairing), distinguishable from the summary " +
    "row via is_total, and totals count it once") {
    val s = spark
    import s.implicits._
    val left = Seq(Some(1L), None, None, None).toDF("k")
    val right = Seq(Some(1L), Some(1L), None).toDF("k")
    val rows = JoinSkew.joinSkewCard(left, right, "k", topN = 5).collect()
    val nullData = rows.filter(r => r.isNullAt(0) && !r.getBoolean(1))
    assert(nullData.length == 1,
      "the two sides' NULL groups must meet in exactly one row")
    // NULL key: 3 left x 1 right -> out_rows 3 (the null-safe-join /
    // shuffle-skew read; an equi-join emits 0 rows for them)
    assert((nullData.head.getLong(2), nullData.head.getLong(3),
      nullData.head.getLong(4)) == ((3L, 1L, 3L)))
    val total = rows.find(_.getBoolean(1)).get
    assert(total.getLong(2) == 4L && total.getLong(3) == 3L,
      "totals count every input row exactly once")
    assert(total.getLong(4) == 1L * 2L + 3L * 1L)
    // salting plan keeps the NULL data key (is_total filter, not
    // key IS NOT NULL) — it is a real hot key a salted join must treat
    val plan = JoinSkew.saltingPlan(left, right, "k", targetRows = 2L)
      .collect()
    val nullPlan = plan.filter(_.isNullAt(0))
    assert(nullPlan.length == 1 && nullPlan.head.getLong(4) == 2L,
      "ceil(3/2) = 2 for the NULL hot key")
  }

  test("saltingPlan: integer-ceil salt factors at a hand target") {
    val s = spark
    import s.implicits._
    // key 1: 3*4 = 12 rows -> salt ceil(12/5) = 3; key 2: 1*5 = 5 ->
    // exactly one task; key 3: 0 output -> salt 0? no: ceil(0/5) = 0,
    // but a key with no output emits nothing to salt — verify 0
    val left = (Seq.fill(3)(1L) ++ Seq(2L) ++ Seq(3L)).toDF("k")
    val right = (Seq.fill(4)(1L) ++ Seq.fill(5)(2L)).toDF("k")
    val rows = JoinSkew.saltingPlan(left, right, "k", targetRows = 5L)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(rows == Map(1L -> 3L, 2L -> 1L, 3L -> 0L))
    val e = intercept[IllegalArgumentException](
      JoinSkew.saltingPlan(left, right, "k", targetRows = 0L))
    assert(e.getMessage.contains("targetRows"))
  }

  test("salt caps at n_left: a 1-row left key with a huge right side " +
    "prices salt 1 (nothing to split), never a six-digit replication " +
    "factor (r17 diagnosis fix)") {
    val s = spark
    val left = s.range(0, 2001).select(
      when(col("id") === 2000, 0L).otherwise(col("id") + 10000L).as("k"),
      col("id").as("lv"))
    val right = s.range(0, 300000).select(lit(0L).as("k"),
      col("id").as("rv"))
    // key 0: n_left 1, n_right 300k, out 300k — uncapped ceil would be
    // 1500 at target 200; the cap must pin it to n_left = 1
    val plan = JoinSkew.saltingPlan(left, right, "k",
      targetRows = 200L, topN = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(plan(0L) == 1L, s"salt must cap at n_left: $plan")
  }

  test("pilesAtOrAbove: exact per-key counts; a target keeps only the " +
    "keys priced at or above it") {
    val s = spark
    // key 0: 2000 left rows; keys 2, 4, …, 100: 40 left rows each;
    // right: one row per key 0..100
    val left = s.range(0, 4000).select(
      when(col("id") % 2 === 0, 0L).otherwise(col("id") % 100 + 1).as("k"),
      col("id").as("payload"))
    val right = s.range(0, 101).select(col("id").as("k"),
      (col("id") * 7).as("rv"))
    def piles(target: Long) = JoinSkew.pilesAtOrAbove(
        left, right, Seq("k"), targetRows = target)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // target 1 keeps every key with a left row, at its exact counts
    // (right-only keys price greatest(0, 0) and drop)
    val exact = (2L to 100L by 2L).map(k => k -> ((40L, 1L, 40L))).toMap +
      (0L -> ((2000L, 1L, 2000L)))
    assert(piles(1L) == exact, "target 1 must return the exact counts")
    // only the planted pile reaches 1000
    assert(piles(1000L) == Map(0L -> ((2000L, 1L, 2000L))))
  }

  test("AQE's skew split on the planted hot key: inner, left outer, " +
    "right outer, left semi, left anti and composite-key joins read a " +
    "skew-split shuffle, cap the largest task read at a quarter of the " +
    "unsplit join's, and return the unsplit join's rows") {
    val s = spark
    // the q_salted_join* entries' planted hot key over 12k events: every
    // 3rd on k = 0 (and day = 7), the rest over ≤ 500 keys × 5 days.
    // The fact side is spread over 16 partitions, so its map stage has
    // 16 tasks (AQE splits a skewed partition at map-output
    // granularity), and every dimension is materialized (AQE splits
    // only between two plain shuffle reads)
    val fact = s.range(0, 12000, 1, 16).select(col("id").as("event_id"),
        ((col("id") * 7919L) % 1000L).as("user_id"),
        (col("id") % 97L).cast("double").as("value"))
      .select(col("event_id"),
        when(col("event_id") % 3 === 0, 0L)
          .otherwise(pmod(col("user_id"), lit(500L)) + 1L).as("k"),
        when(col("event_id") % 3 === 0, 7L)
          .otherwise(pmod(col("event_id"), lit(5L))).as("day"),
        col("value"))
    def counts(df: DataFrame, keys: String*) = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_r")).localCheckpoint(true)
    val dim = counts(fact, "k")
    val registry = counts(fact.filter(col("k") % 5 =!= 2), "k")
    val block = fact.filter(col("k") % 7 === 0).select("k").distinct()
      .localCheckpoint(true)
    val dimMulti = counts(fact, "k", "day")
    val shapes: Seq[(String, () => DataFrame)] = Seq(
      "inner" -> (() => fact.join(dim, Seq("k"))),
      "left outer" -> (() => fact.join(registry, Seq("k"), "left")),
      "right outer" -> (() => registry.join(fact, Seq("k"), "right")),
      "left semi" -> (() => fact.join(block, Seq("k"), "left_semi")),
      "left anti" -> (() => fact.join(block, Seq("k"), "left_anti")),
      "composite key" -> (() => fact.join(dimMulti, Seq("k", "day"))))

    val maxRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          maxRead.accumulateAndGet(
            t.taskMetrics.shuffleReadMetrics.recordsRead, math.max)
    }
    // rows, the executed plan's skew-split reads, and the largest
    // per-task shuffle read of one run
    def run(join: () => DataFrame) = {
      maxRead.set(0L)
      val df = join()
      val rows = df.collect().map(_.toString).sorted.toSeq
      org.apache.spark.ListenerBusDrain(s.sparkContext)
      (rows, graft.operators.EventQueries.skewSplitReads(
        df.queryExecution.executedPlan), maxRead.get)
    }
    val splitConf = "spark.sql.adaptive.skewJoin.enabled"
    s.sparkContext.addSparkListener(listener)
    try graft.operators.EventQueries.withSkewSplitConfs(s) {
      for ((shape, join) <- shapes) {
        val (rows, splits, splitMax) = run(join)
        s.conf.set(splitConf, "false")
        val (plainRows, plainSplits, plainMax) =
          try run(join) finally s.conf.unset(splitConf)
        assert(plainSplits == 0, s"$shape: the unsplit baseline split")
        assert(splits > 0, s"$shape: AQE did not split the hot partition")
        assert(splitMax * 4 <= plainMax,
          s"$shape: largest task read $splitMax split vs $plainMax unsplit")
        assert(rows == plainRows, s"$shape: the split changed the rows")
      }
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("joinSkewCard: disjoint keys yield zero output and NULL shares") {
    val s = spark
    import s.implicits._
    val left = Seq(1L, 2L).toDF("k")
    val right = Seq(3L, 4L).toDF("k")
    val rows = JoinSkew.joinSkewCard(left, right, "k", topN = 3).collect()
    val total = rows.find(_.getBoolean(1)).get
    assert(total.getLong(4) == 0L)
    assert(total.isNullAt(5), "zero-output share must be NULL, not 0/0")
    assert(rows.filter(!_.getBoolean(1)).forall(_.isNullAt(5)))
    val e = intercept[IllegalArgumentException](
      JoinSkew.joinSkewCard(left, right, "k", topN = 0))
    assert(e.getMessage.contains("topN"))
  }
}
