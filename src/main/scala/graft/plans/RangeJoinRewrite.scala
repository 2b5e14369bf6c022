package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, lit, max, percentile_approx}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{NumericType, TimestampNTZType, TimestampType}

/** Opt-in optimizer rule promoting [[graft.scale.RangeJoin]] from a
  * library call to ENGINE BEHAVIOR for a join Catalyst cannot plan
  * well: a join whose only cross-side predicate is `point BETWEEN lo AND hi` plans as
  * BroadcastNestedLoopJoin (or a cartesian when neither side
  * broadcasts), O(|L|·|R|) however selective the range is. When
  * `spark.graft.rangeJoin.rewrite=true` (the rule's only conf), such
  * joins are rewritten to the bucketed form: the point axis quantized
  * into fixed-width buckets, intervals exploded into covered buckets,
  * points equi-joined on their single bucket, and the FULL ORIGINAL
  * predicate re-applied — so strict bounds, extra conjuncts, and NULL
  * semantics are exactly the nested loop's, and since a point has
  * exactly one bucket no pair can emit twice. RESULT-IDENTICAL,
  * re-proven by the plain-predicate oracle every round.
  *
  * Timestamp and NUMERIC bounds (score bands, length buckets, id
  * ranges) rewrite alike, the numeric ones through
  * [[graft.scale.RangeJoin.pointInIntervalNum]]. The point and BOTH
  * bounds must belong to ONE type family (all timestamps or all
  * numeric): mixed-family triples are DECLINED — Spark would insert
  * implicit casts whose comparison semantics the bucket quantization
  * cannot be proven to cover, and a mixed triple is almost always a
  * schema bug the nested loop surfaces honestly.
  *
  * Joins left alone: anything but INNER/CROSS, hinted joins (the user
  * chose a strategy), equality connectors that are not plain
  * attribute pairs, mixed-family or non-timestamp/non-numeric bounds,
  * and already-rewritten subtrees (the `__graft_range` marker).
  *
  * Both remaining decisions are MEASURED from the data at plan time —
  * bounded jobs, run once per plan shape and cached — which is why the
  * rule stays opt-in:
  *
  *   - WIDTH: the median valid span of the intervals side (the
  *     standard bin-size heuristic: a median-span interval explodes
  *     into ≤ 2 buckets, and a bucket's candidate set is ~the points
  *     under one typical interval — work the exact re-filter must scan
  *     for a real match anyway). Timestamp spans are in seconds,
  *     rounded to a whole second with a 1 s floor. The measurement is
  *     UNSOUND when no valid interval exists, the median span is 0
  *     (point intervals — any width is a guess) or non-finite (an
  *     unbounded sentinel interval), or the max span exceeds 10⁵× the
  *     median: with the median width that tail interval would trip the
  *     loud 1M-bucket cap — an ERROR the nested loop does not raise —
  *     while a tail-driven width degenerates every typical interval
  *     into one overstuffed bucket. An unsound timestamp measurement
  *     falls back to one day ([[FallbackBucketSec]]); an unsound
  *     numeric one DECLINES, keeping the nested loop, because no
  *     numeric width is universal (score bands live near 0.1, id
  *     ranges near 1e6) and a wrong one funnels every row into one
  *     bucket on one task.
  *   - KEYED LIFT: an equality-connected join — the (tenant_id, ts
  *     BETWEEN lo AND hi) production shape — is already an equi-join to
  *     the planner, whose hash join confines the range filter to one
  *     key's group. That is the right plan until some key's group is a
  *     pile: n_points · n_intervals candidate pairs scanned on one
  *     shuffle partition. The lift moves every cross-side
  *     attribute=attribute equality into the bucketed join's key list,
  *     so the shuffle partitions on (keys…, bucket) and splits the
  *     pile. It fires when [[JoinSkew.pilesAtOrAbove]] (points side as
  *     left, priced `greatest(nL·nR, nL)`, exact) finds a non-NULL key
  *     tuple at or above [[KeyedLiftPairs]]; otherwise the planner's
  *     hash join stays.
  *
  * Width and keying are performance-only (the FULL original predicate
  * always re-applies), so the identity oracles hold under any
  * measurement, and a decline simply keeps Catalyst's own plan. */
case class RangeJoinRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {
  import RangeJoinRewrite._

  private val Marker = "__graft_range"

  private def enabled: Boolean =
    spark.conf.get("spark.graft.rangeJoin.rewrite", "false") == "true"

  /** Decision caches, frozen per session per canonicalized plan shape
    * so the bounded plan-time jobs run once per shape, not once per
    * fixed-point iteration ([[boundedLru]]). (intervals plan, lo
    * ordinal, hi ordinal) → measured width; None = no sound width. */
  private val widthDecided =
    boundedLru[(LogicalPlan, Int, Int), Option[Double]]()
  /** (points, intervals, key ordinals both sides) → fire the keyed lift
    * (boxed Boolean: the map's get must be able to say "absent" as
    * null). */
  private val keyedDecided =
    boundedLru[(LogicalPlan, LogicalPlan, Seq[Int]), java.lang.Boolean]()

  private def isRewritten(p: LogicalPlan): Boolean =
    p.output.exists(_.name.startsWith(Marker))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      // shape 1 (extension injection point): filter still above the join
      case f @ Filter(cond, Join(left, right, Inner | Cross, None, hint))
          if hint == JoinHint.NONE &&
            !isRewritten(left) && !isRewritten(right) =>
        rewrite(cond, left, right).getOrElse(f)
      // shape 2 (post-pushdown): predicate inside the join condition
      case j @ Join(left, right, Inner | Cross, Some(cond), hint)
          if hint == JoinHint.NONE &&
            !isRewritten(left) && !isRewritten(right) =>
        rewrite(cond, left, right).getOrElse(j)
    }
  }

  private def tsType(e: Expression): Boolean =
    e.dataType == TimestampType || e.dataType == TimestampNTZType
  private def numType(e: Expression): Boolean =
    e.dataType.isInstanceOf[NumericType]
  /** One type family across (point, lo, hi) — all timestamps or all
    * numeric; None (decline) for mixed or unsupported families. */
  private def familyOf(t: Expression, lo: Expression, hi: Expression)
      : Option[Boolean] =
    if (tsType(t) && tsType(lo) && tsType(hi)) Some(true)
    else if (numType(t) && numType(lo) && numType(hi)) Some(false)
    else None

  /** lower-bound conjunct: ts ≥/> bound (either operand order). */
  private def lowerOf(e: Expression): Option[(Attribute, Attribute)] =
    e match {
      case GreaterThanOrEqual(t: AttributeReference, b: AttributeReference) =>
        Some((t, b))
      case GreaterThan(t: AttributeReference, b: AttributeReference) =>
        Some((t, b))
      case LessThanOrEqual(b: AttributeReference, t: AttributeReference) =>
        Some((t, b))
      case LessThan(b: AttributeReference, t: AttributeReference) =>
        Some((t, b))
      case _ => None
    }

  /** upper-bound conjunct: ts ≤/< bound. */
  private def upperOf(e: Expression): Option[(Attribute, Attribute)] =
    e match {
      case LessThanOrEqual(t: AttributeReference, b: AttributeReference) =>
        Some((t, b))
      case LessThan(t: AttributeReference, b: AttributeReference) =>
        Some((t, b))
      case GreaterThanOrEqual(b: AttributeReference, t: AttributeReference) =>
        Some((t, b))
      case GreaterThan(b: AttributeReference, t: AttributeReference) =>
        Some((t, b))
      case _ => None
    }

  /** The cross-side equality conjuncts: any one makes the join an
    * equi-join to the planner, so the rewrite must either lift them
    * all ([[liftableEquis]]) or decline. */
  private def equiConnectors(conjuncts: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan): Seq[Expression] =
    conjuncts.filter {
      case EqualTo(x, y) => connects(x, y, left, right)
      case EqualNullSafe(x, y) => connects(x, y, left, right)
      case _ => false
    }

  private def connects(x: Expression, y: Expression,
      left: LogicalPlan, right: LogicalPlan): Boolean =
    (x.references.nonEmpty && y.references.nonEmpty) &&
      ((x.references.subsetOf(left.outputSet) &&
        y.references.subsetOf(right.outputSet)) ||
        (y.references.subsetOf(left.outputSet) &&
          x.references.subsetOf(right.outputSet)))

  /** Cross-side attribute=attribute equalities, unoriented; None when
    * some connector is NOT a plain attribute pair (the keyed lift is
    * proven for attribute pairs only — decline). Null-safe equality is
    * never lifted: the bucketed join's key equality drops NULL=NULL
    * pairs that <=> would keep. */
  private def liftableEquis(conns: Seq[Expression])
      : Option[Seq[(Attribute, Attribute)]] = {
    val lifted = conns.map {
      case EqualTo(x: AttributeReference, y: AttributeReference) =>
        Some((x: Attribute, y: Attribute))
      case _ => None
    }
    if (lifted.exists(_.isEmpty)) None else Some(lifted.flatten)
  }

  /** Measured bucket width (class scaladoc, WIDTH): one bounded
    * plan-time aggregation over every valid interval — median and max
    * span — cached per canonicalized (intervals, lo, hi). Timestamp
    * spans are in seconds (NTZ normalizes through TIMESTAMP under the
    * pinned UTC session timezone, as
    * [[graft.scale.RangeJoin.pointInInterval]] does). None = no sound
    * width. */
  private def measuredWidth(intervals: LogicalPlan, lo: Attribute,
      hi: Attribute, isTs: Boolean): Option[Double] = {
    val loOrd = intervals.output.indexWhere(_.exprId == lo.exprId)
    val hiOrd = intervals.output.indexWhere(_.exprId == hi.exprId)
    // lo and hi may be the SAME attribute (p.v >= i.b AND p.v <= i.b —
    // an equality spelled as a band): every span is 0, which is the
    // point-interval decline, decided here without a rename that
    // cannot give one column two names
    if (loOrd == hiOrd) return None
    val cacheKey = (intervals.canonicalized, loOrd, hiOrd)
    val cached = widthDecided.get(cacheKey)
    if (cached != null) return cached
    val names = intervals.output.indices.map(i =>
      if (i == loOrd) "_wlo" else if (i == hiOrd) "_whi" else s"_wc_$i")
    val df = PlanBridge.ofRows(spark, intervals).toDF(names: _*)
    def axis(c: Column): Column =
      if (isTs) c.cast("timestamp").cast("double") else c.cast("double")
    val span = axis(col("_whi")) - axis(col("_wlo"))
    // percentile_approx at rank error 1e-4 rather than the exact
    // percentile: the exact aggregate holds every distinct span in
    // memory, and a bucket width has no use for the last rank
    val row = df.filter(col("_wlo").isNotNull && col("_whi").isNotNull &&
        col("_wlo") <= col("_whi"))
      .select(percentile_approx(span, lit(0.5), lit(10000)).as("med"),
        max(span).as("mx"))
      .head()
    val width =
      if (row.isNullAt(0) || row.isNullAt(1)) None
      else {
        val med = row.getDouble(0)
        val mx = row.getDouble(1)
        if (med > 0 && java.lang.Double.isFinite(med) &&
          java.lang.Double.isFinite(mx) && mx <= med * 1e5) Some(med)
        else None
      }
    widthDecided.put(cacheKey, width)
    width
  }

  /** Measured keyed decision (class scaladoc, KEYED LIFT): does ANY
    * fully-non-NULL key tuple's price `greatest(n_points · n_intervals,
    * n_points)` reach [[KeyedLiftPairs]]? One bounded plan-time
    * count-table pass through [[JoinSkew.pilesAtOrAbove]] — an
    * existence probe with no topN ranking and no salt cap, so a
    * 1-point key over a huge intervals side still counts — with NULL
    * key tuples pruned on both sides exactly as the keyed join prunes
    * them; cached per canonicalized (points, intervals, key
    * ordinals). */
  private def keyedPileProven(points: LogicalPlan,
      intervals: LogicalPlan,
      pairs: Seq[(Attribute, Attribute)]): Boolean = {
    val keyOrdinals =
      pairs.map(p => points.output.indexWhere(_.exprId == p._1.exprId)) ++
      pairs.map(p =>
        intervals.output.indexWhere(_.exprId == p._2.exprId))
    val cacheKey =
      (points.canonicalized, intervals.canonicalized, keyOrdinals)
    val cached = keyedDecided.get(cacheKey)
    if (cached != null) return cached
    // rename ALL columns positionally first, then alias the key
    // ordinals into the _dk_i slots with a SELECT — one source column
    // may back several lifted equalities (e.k = w.t1 AND e.k = w.t2),
    // and a positional rename cannot give one column two names
    def keyed(p: LogicalPlan, keys: Seq[Attribute]): DataFrame =
      PlanBridge.ofRows(spark, p)
        .toDF(p.output.indices.map(i => s"_dc_$i"): _*)
        .select(keys.zipWithIndex.map { case (a, i) =>
          col(s"_dc_${p.output.indexWhere(_.exprId == a.exprId)}")
            .as(s"_dk_$i")
        }: _*)
        .filter(keys.indices.map(i => col(s"_dk_$i").isNotNull)
          .reduce(_ && _))
    // bounded ≤1-row existence collect — no plan, no ranking
    val proven = JoinSkew.pilesAtOrAbove(
        keyed(points, pairs.map(_._1)), keyed(intervals, pairs.map(_._2)),
        pairs.indices.map(i => s"_dk_$i"), KeyedLiftPairs)
      .limit(1).count() > 0
    keyedDecided.put(cacheKey, proven)
    proven
  }

  private def rewrite(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val equis =
      liftableEquis(equiConnectors(conjuncts, left, right)) match {
        case Some(ps) => ps
        case None => return None
      }
    val lowers = conjuncts.flatMap(lowerOf)
    val uppers = conjuncts.flatMap(upperOf)
    // a (point, lo, hi) triple in ONE type family with the point wholly
    // on one side and both bounds on the other
    val candidates = for {
      (t1, lo) <- lowers
      (t2, hi) <- uppers
      if t1.exprId == t2.exprId
      isTs <- familyOf(t1, lo, hi).toSeq
      (pts, ivs, flipped) <-
        (if (left.outputSet.contains(t1) &&
            right.outputSet.contains(lo) && right.outputSet.contains(hi))
          Some((left, right, false))
        else if (right.outputSet.contains(t1) &&
            left.outputSet.contains(lo) && left.outputSet.contains(hi))
          Some((right, left, true))
        else None).toSeq
    } yield (t1, lo, hi, pts, ivs, flipped, isTs)
    // measured decisions per candidate, FIRST APPROVED WINS: a
    // candidate whose measurement declines (no sound numeric width)
    // falls through to the next triple rather than vetoing the join.
    // LazyList keeps it lazy: measurements run only until one approves.
    candidates.to(LazyList).flatMap {
      case (ts, lo, hi, points, intervals, flipped, isTs) =>
        // orient each lifted equality to (points attr, intervals
        // attr) — cross-side under the ORIGINAL left/right, which
        // {points, intervals} is a permutation of
        val orientedEquis = equis.map { case (x, y) =>
          if (points.outputSet.contains(x)) (x, y) else (y, x)
        }
        val width: Option[Double] =
          if (equis.nonEmpty &&
            !keyedPileProven(points, intervals, orientedEquis)) None
          else if (isTs) Some(measuredWidth(intervals, lo, hi, isTs = true)
            .map(w => math.max(1L, math.round(w)).toDouble)
            .getOrElse(FallbackBucketSec.toDouble))
          else measuredWidth(intervals, lo, hi, isTs = false)
        width.map(w => build(cond, left, right, ts, lo, hi, points,
          intervals, flipped, isTs, w, orientedEquis))
    }.headOption
  }

  /** Assemble the bucketed replacement plan for a matched, approved
    * triple at its measured width (whole seconds for timestamps). */
  private def build(cond: Expression, left: LogicalPlan,
      right: LogicalPlan, ts: Attribute, lo: Attribute, hi: Attribute,
      points: LogicalPlan, intervals: LogicalPlan, flipped: Boolean,
      isTs: Boolean, width: Double,
      orientedEquis: Seq[(Attribute, Attribute)]): LogicalPlan = {
      def name(side: String, i: Int) = s"${Marker}_${side}$i"
      val pNames = points.output.indices.map(name("p", _))
      val iNames = intervals.output.indices.map(name("i", _))
      val pDf = PlanBridge.ofRows(spark, points).toDF(pNames: _*)
      val iDf = PlanBridge.ofRows(spark, intervals).toDF(iNames: _*)
      val tsName = name("p", points.output.indexWhere(_.exprId == ts.exprId))
      val loName =
        name("i", intervals.output.indexWhere(_.exprId == lo.exprId))
      val hiName =
        name("i", intervals.output.indexWhere(_.exprId == hi.exprId))
      // translate the (points, intervals)-oriented equalities to the
      // internal names
      val keyPairs = orientedEquis.map { case (p, i) =>
        (name("p", points.output.indexWhere(_.exprId == p.exprId)),
          name("i", intervals.output.indexWhere(_.exprId == i.exprId)))
      }
      val bucketed = PlanBridge.analyzed(
        if (isTs) graft.scale.RangeJoin.pointInInterval(
          pDf, tsName, iDf, loName, hiName, width.toLong, keyPairs)
        else graft.scale.RangeJoin.pointInIntervalNum(
          pDf, tsName, iDf, loName, hiName, width, keyPairs))
      val byName = bucketed.output.map(a => a.name -> a).toMap
      val restored = (points.output.zipWithIndex.map { case (a, i) =>
        Alias(byName(name("p", i)), a.name)(
          exprId = a.exprId, qualifier = a.qualifier)
      }) ++ (intervals.output.zipWithIndex.map { case (a, i) =>
        Alias(byName(name("i", i)), a.name)(
          exprId = a.exprId, qualifier = a.qualifier)
      })
      val ordered =
        if (flipped) restored.drop(points.output.length) ++
          restored.take(points.output.length)
        else restored
      // the full ORIGINAL predicate re-filters the bucket candidates:
      // strict bounds, extra conjuncts, everything — exactly the
      // nested loop's emission set
      Filter(cond, Project(ordered, bucketed)) match {
        case filtered => Project(
          (left.output ++ right.output).map(a => a: NamedExpression),
          filtered)
      }
  }
}

object RangeJoinRewrite {

  /** Timestamp bucket width (one day) when the measured width is
    * unsound: the timestamp family keeps a working rewrite rather than
    * falling back to the nested loop. */
  val FallbackBucketSec: Long = 86400L

  /** Per-key candidate pairs (`greatest(n_points · n_intervals,
    * n_points)`) from which the keyed lift beats the planner's hash
    * join. Measured on the catalog's keyed range shape (BASELINE.md,
    * "Keyed range lift vs the planner's hash join"): the crossover lies
    * between 285 k and 382 k pairs at sf0.01 and below 470 k at
    * sf0.1, where the lift is 3× faster at 2.0 M. */
  val KeyedLiftPairs: Long = 300000L

  /** Bounded synchronized LRU for the plan-time decision caches
    * (access-ordered, eldest-entry eviction at 64 plan shapes — a
    * plan-shape cardinality, not a data one — never a whole-cache
    * clear). */
  private def boundedLru[K, V](): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[K, V]): Boolean = size() > 64
      })
}
