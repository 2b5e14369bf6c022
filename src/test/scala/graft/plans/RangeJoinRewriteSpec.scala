package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.GraftExtensions

/** The conf-gated bucketed range-join rewrite: a plain
  * point-in-interval predicate join — a nested loop to Catalyst —
  * becomes the bucketed equi-join + exact re-filter, result-identical,
  * at a width and keying measured from the data. */
class RangeJoinRewriteSpec extends AnyFunSuite {

  private def spark = SparkTestSession.withTables()

  private def sides(s: SparkSession): (DataFrame, DataFrame) = {
    val e = s.table("events").select("event_id", "ts")
    val win = s.table("events").filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("window_id"), col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 12 HOURS")).as("hi"))
    (e, win)
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("event_id", "window_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Count the Spark jobs launched while `body` runs — used to pin
    * which plannings pay a measurement and which are cached/job-free.
    * The listener bus is async, so quiesce (no new events for 500 ms)
    * before reading. */
  private def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      body
      var last = counter.get
      var stableSince = System.currentTimeMillis()
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() - stableSince < 500 &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(25)
        if (counter.get != last) {
          last = counter.get
          stableSince = System.currentTimeMillis()
        }
      }
      counter.get
    } finally s.sparkContext.removeSparkListener(listener)
  }

  private def withRewrite[T](s: SparkSession)(body: => T): T = {
    GraftExtensions.register(s)
    s.conf.set("spark.graft.rangeJoin.rewrite", "true")
    try body
    finally s.conf.set("spark.graft.rangeJoin.rewrite", "false")
  }

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("__graft_range")

  /** (row count, order-free checksum) of a join's (id, id) output, for
    * results too large to compare as collected sets. */
  private def digest(df: DataFrame, a: String, b: String): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(col(a), col(b)), lit(1000000007L))),
        lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("inclusive range join: nested loop gone, result identical") {
    val s = spark
    val (e, w) = sides(s)
    def q = e.join(w, col("ts") >= col("lo") && col("ts") <= col("hi"))
    val plain = pairs(q)
    assert(q.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    withRewrite(s) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), s"nested loop survived:\n$p")
      assert(pairs(q) == plain)
    }
  }

  test("strict bounds and extra conjuncts re-filter exactly") {
    val s = spark
    val (e, w) = sides(s)
    def q = e.join(w, col("ts") > col("lo") && col("ts") < col("hi") &&
      col("event_id") % 2 === 0)
    val plain = pairs(q)
    withRewrite(s) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(pairs(q) == plain)
    }
  }

  test("flipped sides (points on the right) also rewrite and restore " +
    "column order") {
    val s = spark
    val (e, w) = sides(s)
    def q = w.join(e, col("ts") >= col("lo") && col("ts") <= col("hi"))
      .select("window_id", "event_id", "lo")
    val plain = q.collect().map(_.toSeq).toSet
    withRewrite(s) {
      assert(!q.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      assert(q.collect().map(_.toSeq).toSet == plain)
    }
  }

  test("joins with an equi-connector or disabled conf are untouched") {
    val s = spark
    GraftExtensions.register(s)
    val (e, w) = sides(s)
    s.conf.set("spark.graft.rangeJoin.rewrite", "false")
    assert(e.join(w, col("ts") >= col("lo") && col("ts") <= col("hi"))
      .queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    withRewrite(s) {
      // an equality connecting the sides -> planner equi-joins; no rewrite
      val eq = e.join(w, col("event_id") === col("window_id") &&
        col("ts") >= col("lo") && col("ts") <= col("hi"))
      val p = eq.queryExecution.executedPlan.toString
      assert(!p.contains("__graft_range"), p)
      assert(eq.count() > 0)
    }
  }

  /** Per-type windows: a low-cardinality equality connector, the
    * shape the keyed lift targets. */
  private def typedSides(s: SparkSession): (DataFrame, DataFrame) = {
    val e = s.table("events").select("event_id", "event_type", "ts")
    val win = s.table("events").filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("window_id"),
        col("event_type").as("wtype"), col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 12 HOURS")).as("hi"))
    (e, win)
  }

  test("keyedRewrite declines non-liftable equality connectors: a " +
    "computed equality and a null-safe <=> both keep the plain plan " +
    "(the lift is proven for attribute pairs only)") {
    val s = spark
    val (e, w) = typedSides(s)
    withRewrite(s) {
      // computed (non-attribute) equality
      val comp = e.join(w,
        concat(col("event_type"), lit("")) === col("wtype") &&
          col("ts") >= col("lo") && col("ts") <= col("hi"))
      assert(!fired(comp), "a computed equality must decline the keyed lift")
      // null-safe equality: <=> keeps NULL=NULL pairs the bucketed
      // join's key equality would drop — must decline
      val nsafe = e.join(w, col("event_type") <=> col("wtype") &&
        col("ts") >= col("lo") && col("ts") <= col("hi"))
      assert(!fired(nsafe), "a null-safe equality must decline the keyed lift")
    }
  }

  test("SQL BETWEEN form triggers the same rewrite (the analyzer " +
    "expands BETWEEN into the >=/<= conjuncts the rule matches)") {
    val s = spark
    val (e, w) = sides(s)
    e.createOrReplaceTempView("rj_events")
    w.createOrReplaceTempView("rj_windows")
    def q = s.sql(
      """SELECT event_id, window_id FROM rj_events e JOIN rj_windows w
        |ON e.ts BETWEEN w.lo AND w.hi""".stripMargin)
    val plain = pairs(q)
    withRewrite(s) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"SQL BETWEEN must rewrite too:\n$p")
      assert(pairs(q) == plain)
    }
  }

  /** Numeric score bands: values spanning negatives and fractions,
    * bounds straddling zero, and spans of 2.5, 2.75 and 3.0 by window
    * id, so the measured (median) width is fractional. */
  private def numSides(s: SparkSession): (DataFrame, DataFrame) = {
    val e = s.table("events").select(col("event_id"),
      (col("value") - 50.0).as("score"))
    val win = s.table("events").filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("window_id"),
        (col("value") - 51.25).as("lo"),
        (col("value") - 48.75 + (col("event_id") % 3) * 0.25).as("hi"))
    (e, win)
  }

  test("an interval covering >= 1M buckets fails LOUDLY, not as an " +
    "executor array blow-up") {
    val s = spark
    import s.implicits._
    // span cap: an open upper bound encoded as a sentinel throws with
    // the interval's bounds instead of exploding sequence()
    val pts = Seq((1L, 5.0)).toDF("event_id", "score")
    val open = Seq((1L, 0.0, Double.MaxValue)).toDF("window_id", "lo", "hi")
    val err = intercept[Exception] {
      graft.scale.RangeJoin.pointInIntervalNum(
        pts, "score", open, "lo", "hi", bucketWidth = 2.5).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(err).exists(_.contains("covers >=")),
      s"expected the loud span-cap error, got: $err")
  }

  test("NUMERIC range join (negative values, fractional width): nested " +
    "loop gone, result identical") {
    val s = spark
    val (e, w) = numSides(s)
    def q = e.join(w,
      col("score") >= col("lo") && col("score") <= col("hi"))
    val plain = pairs(q)
    assert(q.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    withRewrite(s) {
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("__graft_range") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), s"nested loop survived:\n$p")
      assert(pairs(q) == plain)
    }
    // sanity: the fixture genuinely exercises negative bounds and a
    // fractional median span (the width the rule measures)
    assert(w.filter(col("lo") < 0).count() > 0)
    val med = w.select(percentile_approx(col("hi") - col("lo"), lit(0.5),
      lit(10000))).head().getDouble(0)
    assert(math.abs(med - math.rint(med)) > 0.1,
      s"median span $med must be fractional")
  }

  test("NUMERIC (integer family) strict bounds + extra conjunct " +
    "re-filter exactly") {
    val s = spark
    // long points vs long bounds — cast-free comparisons, one family
    val e = s.table("events").select(col("event_id"),
      pmod(col("user_id"), lit(1000L)).as("score"))
    val w = s.table("events").filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("window_id"),
        (pmod(col("user_id"), lit(1000L)) - lit(25L)).as("lo"),
        (pmod(col("user_id"), lit(1000L)) + lit(25L)).as("hi"))
    def q = e.join(w, col("score") > col("lo") && col("score") < col("hi")
      && col("event_id") % 2 === 0)
    val plain = pairs(q)
    withRewrite(s) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(pairs(q) == plain)
    }
  }

  test("an unsupported type family (DATE triple) is DECLINED — the " +
    "nested loop stays; a truly mixed triple never reaches the rule " +
    "cast-free (the analyzer's implicit casts already break the " +
    "attribute pattern), which is exactly the documented decline") {
    val s = spark
    val e = s.table("events").select(col("event_id"),
      col("ts").cast("date").as("d"))
    val w = s.table("events").filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("window_id"),
        col("ts").cast("date").as("lo"),
        date_add(col("ts").cast("date"), 2).as("hi"))
    withRewrite(s) {
      val q = e.join(w, col("d") >= col("lo") && col("d") <= col("hi"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(!p.contains("__graft_range"),
        s"unsupported family must decline:\n$p")
      // cross-width numerics (bigint point, double bounds): the
      // analyzer wraps the point in a cast, the attribute pattern
      // cannot match, the plan stays untouched — same decline
      val mixed = s.table("events")
        .select(col("event_id"),
          pmod(col("user_id"), lit(100L)).as("score"))
        .join(s.table("events").filter(col("event_id") % 97 === 0)
            .select(col("event_id").as("window_id"),
              (col("value") / 10.0 - 2.5).as("lo"),
              (col("value") / 10.0 + 2.5).as("hi")),
          col("score") >= col("lo") && col("score") <= col("hi"))
      assert(!mixed.queryExecution.optimizedPlan.toString
        .contains("__graft_range"))
    }
  }

  test("the measured numeric width DECLINES the unsound-width " +
    "distributions: all point intervals (median span 0), an unbounded " +
    "sentinel interval (non-finite max), and a >=1e5x tail span (median " +
    "width would manufacture the bucket-cap error the nested loop never " +
    "raises)") {
    val s = spark
    import s.implicits._
    val pts = Seq((1L, 5.0), (2L, -3.0)).toDF("pid", "p")
    def q(iv: DataFrame) =
      pts.join(iv, col("p") >= col("ilo") && col("p") <= col("ihi"))
    withRewrite(s) {
      // all spans zero: no width is measurable
      val zero = Seq((1L, 5.0, 5.0), (2L, -3.0, -3.0))
        .toDF("wid", "ilo", "ihi")
      assert(!q(zero).queryExecution.optimizedPlan.toString
        .contains("__graft_range"),
        "zero-span intervals must decline the numeric width")
      // an unbounded sentinel interval: max span is infinite — only
      // the nested loop is sound, and it still returns the right rows
      val open = Seq((1L, 4.0, 6.0), (2L, 0.0, Double.PositiveInfinity))
        .toDF("wid", "ilo", "ihi")
      assert(!q(open).queryExecution.optimizedPlan.toString
        .contains("__graft_range"),
        "an infinite-span interval must decline the numeric width")
      assert(q(open).count() == 2) // 5∈[4,6], 5∈[0,inf), and nothing else
      // tail span >= 1e5x the median: no single sound width
      val tail = Seq((1L, 0.0, 1.0), (2L, 0.5, 1.5),
          (3L, 0.0, 2.0e5)).toDF("wid", "ilo", "ihi")
      assert(!q(tail).queryExecution.optimizedPlan.toString
        .contains("__graft_range"),
        "a 1e5x tail span must decline the numeric width")
    }
  }

  test("an unsound TIMESTAMP width (all point intervals) falls back to " +
    "one-day buckets: the rewrite still fires, result identical") {
    val s = spark
    val e = s.table("events").select("event_id", "ts")
    val w = s.table("events").filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("window_id"), col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 0 SECONDS")).as("hi"))
    def q = e.join(w, col("ts") >= col("lo") && col("ts") <= col("hi"))
    val plain = pairs(q)
    assert(plain.nonEmpty)
    withRewrite(s) {
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("__graft_range") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
      assert(pairs(q) == plain)
    }
  }

  /** One key ("hot") carrying `nPoints` × `nIntervals` candidate pairs
    * plus a cold key, numeric positions spread so each point matches
    * only a few intervals. */
  private def hotKeySides(s: SparkSession, nPoints: Long, nIntervals: Long)
      : (DataFrame, DataFrame) = {
    val pts = s.range(nPoints + 10).select(col("id").as("pid"),
      when(col("id") < nPoints, "hot").otherwise("cold").as("pk"),
      (col("id") * 0.01).as("p"))
    val ivs = s.range(nIntervals + 10).select(
      (col("id") + 1000000L).as("wid"),
      when(col("id") < nIntervals, "hot").otherwise("cold").as("wk"),
      (col("id") * 0.013).as("ilo"), (col("id") * 0.013 + 0.05).as("ihi"))
    (pts, ivs)
  }

  test("the keyed lift is MEASURED: a key priced at or above " +
    "KeyedLiftPairs lifts, a high-cardinality key below it keeps the " +
    "planner's hash join, and both plans return the rule-off rows") {
    val s = spark
    // 800 x 500 = 400k candidate pairs on one key
    val (pts, ivs) = hotKeySides(s, 800, 500)
    assert(800L * 500L >= RangeJoinRewrite.KeyedLiftPairs)
    def hot = pts.join(ivs, col("pk") === col("wk") &&
      col("p") >= col("ilo") && col("p") <= col("ihi"))
    val hotPlain = digest(hot, "pid", "wid")
    assert(hotPlain._1 > 0)
    // user_id: ~15 users over the sf0.001 fixture, a few windows each
    val e = s.table("events").select("event_id", "user_id", "ts")
    val w = s.table("events").filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("window_id"), col("user_id").as("wuser"),
        col("ts").as("lo"), (col("ts") + expr("INTERVAL 3 DAYS")).as("hi"))
    def cold = e.join(w, col("user_id") === col("wuser") &&
      col("ts") >= col("lo") && col("ts") <= col("hi"))
      .select("event_id", "window_id")
    val coldPlain = pairs(cold)
    assert(coldPlain.nonEmpty)
    withRewrite(s) {
      val p = hot.queryExecution.executedPlan.toString
      assert(p.contains("__graft_range") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), s"keyed lift did not fire:\n$p")
      assert(digest(hot, "pid", "wid") == hotPlain,
        "keyed lift identity broke")
      assert(!fired(cold),
        "a key below KeyedLiftPairs must keep the planner's hash join")
      assert(pairs(cold) == coldPlain)
    }
  }

  test("measured decisions run their plan-time jobs ONCE per shape " +
    "(cached)") {
    val s = spark
    // a shape no other test plans, so the session-shared rule
    // instance has not cached it yet
    val (pts, ivs) = hotKeySides(s, 700, 600)
    def plan() = pts.join(ivs, col("pk") === col("wk") &&
        col("p") >= col("ilo") && col("p") <= col("ihi"))
      .queryExecution.executedPlan
    withRewrite(s) {
      val first = jobsDuring(s) { plan() }
      assert(first >= 2,
        s"the first planning must measure the keyed pile and the width, " +
          s"ran $first jobs")
      assert(plan().toString.contains("__graft_range"))
      val second = jobsDuring(s) { plan() }
      assert(second == 0, s"cached decisions must plan job-free, ran $second")
    }
  }

  test("review-pass pins (r17): duplicate lifted equalities diagnose " +
    "without crashing, lo==hi (one bound attribute) declines cleanly, " +
    "and a declined numeric band FALLS THROUGH to a TS triple instead " +
    "of vetoing the join") {
    val s = spark
    import s.implicits._
    withRewrite(s) {
      // (1) one points attribute backing TWO lifted equalities:
      // e.etype = w.t1 AND e.etype = w.t2 — the diagnosis must not
      // die on the rename (it once left _dk_1 unresolved)
      val e = Seq((1L, "a", 5.0), (2L, "a", 7.0), (3L, "b", 9.0))
        .toDF("eid", "etype", "v")
      val w = Seq((10L, "a", "a", 4.0, 8.0), (11L, "b", "b", 8.5, 9.5))
        .toDF("wid", "t1", "t2", "wlo", "whi")
      def dup = e.join(w, col("etype") === col("t1") &&
        col("etype") === col("t2") &&
        col("v") >= col("wlo") && col("v") <= col("whi"))
      s.conf.set("spark.graft.rangeJoin.rewrite", "false")
      val plain = dup.collect().map(_.toSeq).toSet
      s.conf.set("spark.graft.rangeJoin.rewrite", "true")
      assert(dup.collect().map(_.toSeq).toSet == plain,
        "duplicate-equality keyed diagnosis must keep identity")
      // (2) lo and hi the SAME attribute — every span 0, decline
      // without the impossible two-names-one-column rename
      val pts = Seq((1L, 5.0), (2L, 3.0)).toDF("pid", "p")
      val bi = Seq((9L, 5.0)).toDF("bid", "b")
      val same = pts.join(bi,
        col("p") >= col("b") && col("p") <= col("b"))
      assert(!same.queryExecution.optimizedPlan.toString
        .contains("__graft_range"), "lo==hi must decline, not crash")
      assert(same.count() == 1)
      // (3) a numeric band whose measurement declines (all spans 0,
      // distinct lo/hi attributes) must fall through to the TS triple
      // in the same condition, which rewrites at its measured width
      val e2 = Seq((1L, 5.0, java.sql.Timestamp.valueOf(
          "2024-01-01 12:00:00"))).toDF("eid2", "v2", "ts2")
      val w2 = Seq((20L, 5.0, 5.0,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
        .toDF("wid3", "zlo", "zhi", "tlo", "thi")
      val mixed = e2.join(w2,
        col("v2") >= col("zlo") && col("v2") <= col("zhi") &&
          col("ts2") >= col("tlo") && col("ts2") <= col("thi"))
      val p = mixed.queryExecution.optimizedPlan.toString
      assert(p.contains("__graft_range"),
        s"the TS triple must fire after the numeric decline:\n$p")
      assert(mixed.count() == 1)
    }
  }

  test("keyed routing prices UNCAPPED (r17 second review pass): a " +
    "SINGLE-point key over a large intervals side — which the salting " +
    "planners cap to salt 1 because splitting one row is pointless — " +
    "must still lift, because the per-key cartesian lives on the " +
    "intervals side and the (key, bucket) shuffle splits it anyway") {
    val s = spark
    import s.implicits._
    // one point for the hot key; KeyedLiftPairs intervals all
    // containing it — price greatest(1 * n, 1) = n, salt-capped 1
    val n = RangeJoinRewrite.KeyedLiftPairs
    val pts = Seq((1L, "h", 5.0), (2L, "cold", 50.0)).toDF("pid", "ptype", "p")
    // computed (not literal) columns, so the optimizer cannot fold the
    // key and bounds into one-sided filters
    val ivs = s.range(n).select(col("id").as("wid"),
      when(col("id") >= 0, "h").as("wtype"),
      (lit(4.0) - (col("id") % 2) * 0.5).as("ilo"),
      (lit(6.0) + (col("id") % 3) * 0.5).as("ihi"))
    def q = pts.join(ivs, col("ptype") === col("wtype") &&
      col("p") >= col("ilo") && col("p") <= col("ihi"))
    val plain = digest(q, "pid", "wid")
    assert(plain._1 == n)
    withRewrite(s) {
      assert(fired(q), "a 1-point x n-interval key must route keyed " +
        "(salt-cap pricing would have declined it)")
      assert(digest(q, "pid", "wid") == plain)
    }
  }

  test("NULL bounds and NULL points match nothing, same as the nested " +
    "loop") {
    val s = spark
    val (e, w0) = sides(s)
    val w = w0.withColumn("lo",
      when(col("window_id") % 2 === 0, col("lo")))
    def q = e.join(w, col("ts") >= col("lo") && col("ts") <= col("hi"))
    val plain = pairs(q)
    withRewrite(s) {
      assert(pairs(q) == plain)
      assert(plain.forall(_._2 % 2 == 0))
    }
  }
}
