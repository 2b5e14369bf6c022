package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucketed range join: `point ∈ [lo, hi]` joins without a nested loop.
  *
  * Catalyst has no range-join optimization — a join whose only predicate
  * is `l.ts BETWEEN r.lo AND r.hi` plans as BroadcastNestedLoopJoin (or a
  * cartesian product when neither side broadcasts), which is O(|L|·|R|)
  * work however selective the predicate is. When both sides are
  * fact-sized, the standard fix is bucketization: quantize time into
  * fixed-width buckets, explode each interval into the buckets it covers
  * (bounded by interval span / width), give each point its single bucket,
  * and equi-join on the bucket id — a plain hash-partitioned shuffle join
  * with the exact range predicate re-applied after. A point's bucket must
  * be among its matching interval's covered buckets, and it has exactly
  * one bucket, so no (point, interval) pair can match twice — no dedup
  * step, result-identical to the nested loop.
  *
  * Shuffle cost: O(|L| + |R| · spans) keyed by bucket — survives two
  * fact-sized inputs where the nested loop dies. Width picks the
  * tradeoff: wider buckets = fewer replicas per interval but more
  * same-bucket candidates to filter exactly.
  */
object RangeJoin {

  /** Join `points` to `intervals` where `pointCol ∈ [loCol, hiCol]`
    * (inclusive both ends; timestamp columns). `bucketWidthSec` must
    * exceed 0; intervals with NULL bounds or lo > hi match nothing, NULL
    * points match nothing — the nested-loop predicate's semantics.
    *
    * `keys` (r17): optional EQUALITY key pairs (pointsCol, intervalsCol)
    * joined alongside the bucket — the (tenant_id, ts ∈ [lo, hi]) shape.
    * With a LOW-cardinality key (tenants, event types) the planner's
    * plain equi-join confines nothing: each key's hash group is a
    * per-key cartesian scanned by the range filter; keying the BUCKETED
    * join shuffles on (keys…, bucket) instead, so a hot tenant's rows
    * still split across its time buckets. NULL key components match
    * nothing, exactly as in the nested loop. */
  def pointInInterval(
      points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      bucketWidthSec: Long = 7L * 24 * 3600,
      keys: Seq[(String, String)] = Nil): DataFrame = {
    require(bucketWidthSec > 0, s"bucket width must be positive: $bucketWidthSec")
    // NTZ timestamps cannot cast straight to double; normalize through
    // TIMESTAMP (a no-op under the pinned UTC session timezone)
    bucketedJoin(points, pointCol, intervals, loCol, hiCol,
      c => floor(c.cast("timestamp").cast("double") / bucketWidthSec)
        .cast("long"), keys)
  }

  /** [[pointInInterval]] for NUMERIC point/bounds columns — score
    * bands, length buckets, id ranges hit exactly the same
    * BroadcastNestedLoopJoin cliff as timestamps, and the bucketing
    * argument is type-generic: `floor(x / width)` is monotone, so a
    * point's single bucket always lies within its matching interval's
    * covered bucket span (the double cast is order-preserving even for
    * longs/decimals beyond 2⁻⁵³ precision — rounding never reorders —
    * and the EXACT original predicate re-applies after the equi-join,
    * so bucket assignment only needs completeness, not exactness).
    * `bucketWidth` may be fractional; negative values bucket fine
    * (floor is the right rounding for them). */
  def pointInIntervalNum(
      points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Double,
      keys: Seq[(String, String)] = Nil): DataFrame = {
    require(bucketWidth > 0 && !bucketWidth.isInfinite,
      s"bucket width must be positive and finite: $bucketWidth")
    bucketedJoin(points, pointCol, intervals, loCol, hiCol,
      c => floor(c.cast("double") / bucketWidth).cast("long"), keys)
  }

  /** Per-interval bucket-count cap: an open upper bound encoded as a
    * sentinel (Double.PositiveInfinity, Long.MaxValue, year 9999) or a
    * merely-very-wide interval would explode
    * `sequence(bucket(lo), bucket(hi))` into a billions-element array —
    * an executor OOM or array-size failure with no useful message. The
    * cap converts that into a LOUD row-level error naming the fix
    * (widen the bucket, or keep such intervals on the nested-loop
    * path). 1M replicas of one interval row is already far past any
    * sane width choice, so the cap costs legitimate workloads
    * nothing. */
  private val MaxBucketsPerInterval = 1000000L

  private def bucketedJoin(
      points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      bucketOf: Column => Column,
      keys: Seq[(String, String)] = Nil): DataFrame = {
    // the joined output carries all columns of both inputs, so shared
    // names would make every downstream reference ambiguous — fail now
    // with the offending names instead of an AnalysisException later
    val shared = points.columns.toSet.intersect(intervals.columns.toSet)
    require(shared.isEmpty,
      s"points and intervals share column names ${shared.mkString(", ")}; " +
        s"rename one side before joining")
    keys.foreach { case (pk, ik) =>
      require(points.columns.contains(pk),
        s"points side is missing equality key column '$pk'")
      require(intervals.columns.contains(ik),
        s"intervals side is missing equality key column '$ik'")
    }
    // per-side bucket names (not USING-merged): the join condition must
    // carry the bucket equality AND the key equalities so the shuffle
    // partitions on the full (keys…, bucket) tuple
    val bP = "__graft_range_bucket_p"
    val bI = "__graft_range_bucket_i"
    // BOTH names against BOTH inputs: a bucket name pre-existing on the
    // OTHER side would survive a one-sided check, duplicate across the
    // join, and die as an ambiguous reference (and drop() would then
    // eat the user's column)
    for (c <- Seq(bP, bI))
      require(!points.columns.contains(c) && !intervals.columns.contains(c),
        s"inputs must not already carry a '$c' column")
    // NULL key components match nothing under the equality — prune them
    // BEFORE the explode/shuffle on both sides, as NULL points already
    // are
    val pKeyed = keys.foldLeft(points) { case (df, (pk, _)) =>
      df.filter(col(pk).isNotNull) }
    val iKeyed = keys.foldLeft(intervals) { case (df, (_, ik)) =>
      df.filter(col(ik).isNotNull) }
    val l = pKeyed.withColumn(bP, bucketOf(col(pointCol)))
      .filter(col(pointCol).isNotNull)
    // loud span guard (see MaxBucketsPerInterval), embedded in the
    // sequence's upper bound so no optimizer pass can prune it and it
    // stays codegen-able when the rewrite rule injects this plan AFTER
    // ReplaceExpressions already ran (assert_true is RuntimeReplaceable
    // and would hit an INTERNAL_ERROR there): the passing path yields
    // the hi bucket untouched; an over-cap interval raises with its
    // bounds in the message before sequence() can materialize
    val guardedHi = {
      val lob = bucketOf(col(loCol))
      val hib = bucketOf(col(hiCol))
      // overflow-safe span compare (r16 advice): hib - lob in Long wraps
      // negative when both buckets are representable but the difference
      // exceeds Long range (lo near -2^62, hi near +2^62 — exactly the
      // pathological-sentinel inputs the guard targets), and the wrapped
      // negative would PASS the < cap check, handing sequence() the
      // blowup this guard promises to catch loudly. DECIMAL(21,0)
      // subtraction is exact over the full Long range and cannot wrap.
      val span = hib.cast("decimal(21,0)") - lob.cast("decimal(21,0)")
      when(span < lit(MaxBucketsPerInterval), hib)
        .otherwise(raise_error(
          concat(lit("range join: an interval covers >= " +
              s"$MaxBucketsPerInterval buckets (lo="),
            col(loCol).cast("string"), lit(", hi="),
            col(hiCol).cast("string"),
            lit("); widen the bucket (bucketWidthSec / " +
              "bucketWidth) or keep unbounded intervals on the " +
              "nested-loop path")))
          .cast("long"))
    }
    val r = iKeyed
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(loCol) <= col(hiCol))
      .withColumn(bI, explode(sequence(bucketOf(col(loCol)), guardedHi)))
    val joinCond = ((col(bP) === col(bI)) +:
      keys.map { case (pk, ik) => col(pk) === col(ik) }).reduce(_ && _)
    l.join(r, joinCond)
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop(bP, bI)
  }
}
