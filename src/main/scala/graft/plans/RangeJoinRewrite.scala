package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, lit, percentile_approx, when}
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
  * `spark.graft.rangeJoin.rewrite=true`, such joins are rewritten to
  * the bucketed form: time quantized into
  * `spark.graft.rangeJoin.bucketSec`-wide buckets (default 86400),
  * intervals exploded into covered buckets, points equi-joined on
  * their single bucket, and the FULL ORIGINAL predicate re-applied —
  * so strict bounds, extra conjuncts, and NULL semantics are exactly
  * the nested loop's, and since a point has exactly one bucket no pair
  * can emit twice. RESULT-IDENTICAL, re-proven by the plain-predicate
  * oracle every round.
  *
  * NUMERIC bounds (r15 verdict task 5) hit the same BNLJ cliff — score
  * bands, length buckets, id ranges — and rewrite identically through
  * [[graft.scale.RangeJoin.pointInIntervalNum]], with
  * `spark.graft.rangeJoin.numBucketWidth` (fractional allowed, NO
  * default — the width is workload-specific and must be set
  * explicitly or the numeric family declines; see the accessor's
  * scaladoc for why a session-wide default is a trap) as the numeric
  * bucket width. The point and BOTH bounds
  * must belong to ONE type family (all timestamps or all numeric):
  * mixed-family triples are DECLINED — Spark would insert implicit
  * casts whose comparison semantics the bucket quantization cannot be
  * proven to cover, and a mixed triple is almost always a schema bug
  * the nested loop surfaces honestly.
  *
  * Joins left alone: anything but INNER/CROSS, hinted joins (the user
  * chose a strategy), joins already connected by a cross-side equality
  * (the planner runs those as equi-joins — rewriting could only add
  * work; see the keyed opt-in below), mixed-family or
  * non-timestamp/non-numeric bounds, and already-rewritten subtrees
  * (the `__graft_range` marker). No plan-time jobs run — the pattern
  * match is pure, so the only cost of enabling the conf is the match
  * itself.
  *
  * KEYED ranges (r17): `spark.graft.rangeJoin.keyedRewrite=true`
  * additionally treats equality-PLUS-range conditions — the
  * (tenant_id, ts BETWEEN lo AND hi) production shape — by lifting
  * every cross-side attribute=attribute equality into the bucketed
  * join's key list ([[graft.scale.RangeJoin]]'s `keys`), so the
  * shuffle partitions on (keys…, bucket). This is its OWN opt-in
  * because the default decline is RIGHT for high-cardinality keys: the
  * planner's hash join on a selective equality already confines the
  * range filter to small groups, and bucketing would only add interval
  * replication. On LOW-cardinality keys (tenants, categories, event
  * types) each hash group is a per-key cartesian and the keyed bucket
  * join wins — a DATA property the pure pattern match cannot see, so
  * the user chooses. Result identity is unconditional either way (the
  * FULL original predicate re-applies, equalities included); an
  * equality connector that is not attribute=attribute still declines
  * (the lift is proven for attribute pairs only).
  *
  * MEASURED decisions (r17, a deterministic sampled diagnosis applied
  * to this rule's two remaining blind knobs — both are conf-gated because, unlike the pure pattern match above,
  * they run bounded plan-time jobs, cached per plan shape and
  * bypassable via `spark.graft.rangeJoin.rediagnose`):
  *
  *   - `spark.graft.rangeJoin.numWidthAuto=true` — when the numeric
  *     family matches and `numBucketWidth` is UNSET, diagnose the
  *     width from the intervals side instead of declining: width =
  *     the MEDIAN valid span (`percentile_approx(hi − lo, 0.5)`),
  *     the standard bin-size heuristic (a median-span interval
  *     explodes into ≤ 2 buckets, and a bucket's candidate set is
  *     ~the points under one typical interval — work the exact
  *     re-filter must scan for a real match anyway). The diagnosis
  *     DECLINES (keeps the nested loop) when no valid interval
  *     exists, when the median span is 0 (point intervals — any
  *     width is a guess), when it is non-finite (an unbounded
  *     sentinel interval — the nested loop is the only sound plan),
  *     and when the observed MAX span exceeds 10⁵× the median: with
  *     median width that tail interval would trip the loud 1M-bucket
  *     cap — an ERROR the plain nested loop does not raise, so auto
  *     must never pick a width that manufactures it (the 10× margin
  *     under the cap also covers a sampled max's underestimate) —
  *     while a tail-driven width degenerates every typical interval
  *     into one overstuffed bucket. Such a distribution has no single
  *     sound width; the user sets one explicitly or keeps the loop.
  *     An EXPLICIT `numBucketWidth` always wins without running jobs.
  *   - `spark.graft.rangeJoin.bucketSecAuto=true` — the SAME measured
  *     width for the TIMESTAMP family (spans in seconds, median
  *     rounded to a whole second, floor 1 s), because the 86400
  *     default is as much a workload guess as any numeric width:
  *     10-minute attribution windows under day-wide buckets scan
  *     ~144× the candidates they need. The asymmetry vs numeric: the
  *     TS family HAS a default, so an unsound measurement (zero
  *     median / ≥1e5× tail) falls back to the `bucketSec` default
  *     rather than to the nested loop — auto only upgrades the width
  *     when the data proves one; it never degrades a working default
  *     plan. An EXPLICITLY SET `bucketSec` (even to 86400) always
  *     wins without running jobs.
  *   - `spark.graft.rangeJoin.keyedAuto=true` — when an equality
  *     connector is present and `keyedRewrite` is UNSET, decide the
  *     keyed lift from per-key statistics instead of declining: the
  *     keyed decision IS a skew question (the planner's equi-join
  *     dies exactly when some key's hash group is a pile — nL·nR
  *     candidate rows scanned by the range filter, nL probe rows on
  *     one shuffle partition — and the pile detector already exists),
  *     so this reuses [[JoinSkew.pilesAtOrAbove]] (points side as
  *     left, priced `greatest(nL·nR, nL)` — both terms are real
  *     per-key costs the (keys…, bucket) shuffle splits), exact or
  *     hash-sampled under `spark.graft.rangeJoin.sampleRate` < 1,
  *     fires when any
  *     fully-non-NULL key tuple's price reaches
  *     `spark.graft.rangeJoin.keyedTargetRows`, and otherwise leaves
  *     the planner's hash join alone — which for high-cardinality
  *     keys is the RIGHT plan, now measured rather than assumed.
  *     An EXPLICIT `keyedRewrite=true` wins without running jobs.
  *
  * Both measured modes leave result identity untouched — width and
  * keying are performance-only (the FULL original predicate always
  * re-applies), so the identity oracles hold under any diagnosis
  * outcome, and a decline simply keeps Catalyst's own plan. */
case class RangeJoinRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private val Marker = "__graft_range"

  private def enabled: Boolean =
    spark.conf.get("spark.graft.rangeJoin.rewrite", "false") == "true"
  private def bucketSec: Long =
    spark.conf.get("spark.graft.rangeJoin.bucketSec", "86400").toLong
  /** No default: unlike a day for timestamps there is NO universal
    * numeric width — score bands live near 0.1, id ranges near 1e6 —
    * and a wrong session-wide default silently funnels every row into
    * bucket 0, a single shuffle partition doing the full |L|·|R| work
    * serialized on one task (strictly worse than the nested loop it
    * replaces). Numeric rewrites therefore require the conf to be set
    * EXPLICITLY; unset declines the numeric family entirely. */
  private def numBucketWidth: Option[Double] =
    spark.conf.getOption("spark.graft.rangeJoin.numBucketWidth")
      .map(_.toDouble)
  private def keyedRewrite: Boolean =
    spark.conf.get("spark.graft.rangeJoin.keyedRewrite", "false") == "true"
  private def numWidthAuto: Boolean =
    spark.conf.get("spark.graft.rangeJoin.numWidthAuto", "false") == "true"
  private def bucketSecAuto: Boolean =
    spark.conf.get("spark.graft.rangeJoin.bucketSecAuto", "false") == "true"
  private def keyedAuto: Boolean =
    spark.conf.get("spark.graft.rangeJoin.keyedAuto", "false") == "true"
  /** Per-key candidate rows (points × exploded-interval work) one
    * shuffle partition may take before the keyed lift fires (5M by
    * default). */
  private def keyedTargetRows: Long =
    spark.conf.get("spark.graft.rangeJoin.keyedTargetRows", "5000000")
      .toLong
  /** Deterministic full-row-hash sample rate for BOTH measured
    * diagnoses (1.0 = exact) — [[JoinSkew.hashSampleCond]]'s
    * hash, so diagnosis decisions survive stage retries and re-runs
    * unchanged. */
  private def sampleRate: Double =
    spark.conf.get("spark.graft.rangeJoin.sampleRate", "1.0").toDouble
  private def rediagnose: Boolean =
    spark.conf.get("spark.graft.rangeJoin.rediagnose", "false") == "true"

  /** Diagnosis caches: decisions
    * are FROZEN PER SESSION per canonicalized (plan, conf) key —
    * bounded plan-time jobs run once per shape, not once per
    * fixed-point iteration — LRU-evicted at 64 shapes
    * ([[JoinSkew.boundedLru]], the shared cache semantics), bypassable
    * (reads only; runs still re-cache) via
    * `spark.graft.rangeJoin.rediagnose=true`. */
  /** (intervals plan, lo ordinal, hi ordinal, rate bits) → width;
    * None = diagnosed, no sound width (decline). */
  private val widthDecided =
    JoinSkew.boundedLru[(LogicalPlan, Int, Int, Long), Option[Double]]()
  /** (points, intervals, key ordinals both sides, target, rate bits)
    * → fire the keyed lift (boxed Boolean: the map's get must be able
    * to say "absent" as null). */
  private val keyedDecided =
    JoinSkew.boundedLru[(LogicalPlan, LogicalPlan, Seq[Int], Long, Long),
      java.lang.Boolean]()

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

  /** The cross-side equality conjuncts — ONE collection shared by the
    * decline gate and the keyed lift, so the two can never drift on
    * what counts as an equi connector. */
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

  /** Measured numeric bucket width (object scaladoc, numWidthAuto):
    * one bounded plan-time aggregation over the (sampled) intervals
    * side — median and max of the valid spans — cached per
    * canonicalized (intervals, lo, hi, rate). Returns None (decline)
    * when no valid interval exists, the median span is non-positive
    * or non-finite, or the observed max span exceeds 10⁵× the median
    * (a median width would manufacture the 1M-bucket cap ERROR on the
    * tail interval — the nested loop raises no such error, so auto
    * must not — and a tail width degenerates the buckets; no single
    * width is sound). */
  private def measuredNumWidth(intervals: LogicalPlan, lo: Attribute,
      hi: Attribute): Option[Double] =
    measuredWidth(intervals, lo, hi, _.cast("double"))

  /** [[measuredNumWidth]] for the TIMESTAMP family: spans in seconds
    * (NTZ normalizes through TIMESTAMP under the pinned UTC session
    * timezone, as [[graft.scale.RangeJoin.pointInInterval]] does),
    * median rounded to a whole second with a 1 s floor. */
  private def measuredTsWidth(intervals: LogicalPlan, lo: Attribute,
      hi: Attribute): Option[Long] =
    measuredWidth(intervals, lo, hi,
      _.cast("timestamp").cast("double"))
      .map(w => math.max(1L, math.round(w)))

  private def measuredWidth(intervals: LogicalPlan, lo: Attribute,
      hi: Attribute,
      secondsOf: org.apache.spark.sql.Column
        => org.apache.spark.sql.Column): Option[Double] = {
    val rate = sampleRate
    val loOrd = intervals.output.indexWhere(_.exprId == lo.exprId)
    val hiOrd = intervals.output.indexWhere(_.exprId == hi.exprId)
    // lo and hi may be the SAME attribute (p.v >= i.b AND p.v <= i.b —
    // an equality spelled as a band): every span is 0, which is the
    // point-interval decline, decided here without a rename that
    // cannot give one column two names (review fix: the positional
    // rename produced only _wlo and the validity filter crashed)
    if (loOrd == hiOrd) return None
    val cacheKey = (intervals.canonicalized, loOrd, hiOrd,
      java.lang.Double.doubleToLongBits(rate))
    if (!rediagnose) {
      val cached = widthDecided.get(cacheKey)
      if (cached != null) return cached
    }
    val names = intervals.output.indices.map(i =>
      if (i == loOrd) "_wlo" else if (i == hiOrd) "_whi" else s"_wc_$i")
    val df = PlanBridge.ofRows(spark, intervals).toDF(names: _*)
    val valid = df.filter(col("_wlo").isNotNull && col("_whi").isNotNull &&
      col("_wlo") <= col("_whi"))
    val span = secondsOf(col("_whi")) - secondsOf(col("_wlo"))
    // ONE pass over the valid intervals: the median is estimated over
    // the deterministic hash sample (percentile_approx skips the
    // when()'s NULLs), but the max span is computed EXACTLY — a tail
    // interval missing from the sample would otherwise evade the
    // 1e5x decline and the chosen width would manufacture the
    // 1M-bucket runtime error on exactly the row the guard exists
    // for (review fix; the scan reads every row for the sample
    // predicate anyway, so the exact max costs no extra pass)
    val row = valid
      .select(percentile_approx(
          when(JoinSkew.hashSampleCond(valid, rate), span),
          lit(0.5), lit(10000)).as("med"),
        org.apache.spark.sql.functions.max(span).as("mx"))
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

  /** Measured keyed decision (object scaladoc, keyedAuto): does ANY
    * fully-non-NULL key tuple's per-key price —
    * `greatest(n_points · n_intervals, n_points)`, the preserved
    * formula over the plan's reported counts — reach
    * `keyedTargetRows`? One bounded plan-time count-table pass via
    * the skew pile detector (points as the left/preserved side; NULL
    * key tuples pre-pruned on both sides exactly as the keyed join
    * itself prunes them), cached per canonicalized (points,
    * intervals, key ordinals, target, rate).
    *
    * The decision goes through [[JoinSkew.pilesAtOrAbove]] — an
    * existence probe with NO topN ranking and NO salt cap: a ranking
    * by a salt-capped statistic would cap a 1-point key over a
    * 10M-row intervals side to salt 1, and under sampling could evict
    * the only point-estimate-provable key from a topN — both
    * structural false declines for a question that is just "does
    * such a key EXIST". Point-estimate pricing is the routing
    * discipline; see the probe's scaladoc for the estimator
    * argument. */
  private def keyedPileProven(points: LogicalPlan,
      intervals: LogicalPlan,
      pairs: Seq[(Attribute, Attribute)]): Boolean = {
    val rate = sampleRate
    val target = keyedTargetRows
    val keyOrdinals =
      pairs.map(p => points.output.indexWhere(_.exprId == p._1.exprId)) ++
      pairs.map(p =>
        intervals.output.indexWhere(_.exprId == p._2.exprId))
    val cacheKey = (points.canonicalized, intervals.canonicalized,
      keyOrdinals, target, java.lang.Double.doubleToLongBits(rate))
    if (!rediagnose) {
      val cached = keyedDecided.get(cacheKey)
      if (cached != null) return cached
    }
    // rename ALL columns positionally first, then alias the key
    // ordinals into the _dk_i slots with a SELECT — one source column
    // may back several lifted equalities (e.k = w.t1 AND e.k = w.t2),
    // and a positional rename cannot give one column two names
    // (review fix: the first-match rename left _dk_1 unresolved)
    def keyed(p: LogicalPlan, keys: Seq[Attribute]): DataFrame = {
      val base = PlanBridge.ofRows(spark, p)
        .toDF(p.output.indices.map(i => s"_dc_$i"): _*)
      val keyCols = keys.zipWithIndex.map { case (a, i) =>
        col(s"_dc_${p.output.indexWhere(_.exprId == a.exprId)}")
          .as(s"_dk_$i")
      }
      val keyIds = keys.map(_.exprId).toSet
      val payload = p.output.zipWithIndex
        .filterNot { case (a, _) => keyIds.contains(a.exprId) }
        .map { case (_, i) => col(s"_dc_$i") }
      base.select(keyCols ++ payload: _*)
        .filter(keys.indices.map(i => col(s"_dk_$i").isNotNull)
          .reduce(_ && _))
    }
    val keyNames = pairs.indices.map(i => s"_dk_$i")
    // bounded ≤1-row existence collect — no plan, no ranking
    val proven = JoinSkew.pilesAtOrAbove(
        keyed(points, pairs.map(_._1)), keyed(intervals, pairs.map(_._2)),
        keyNames, target, rate)
      .limit(1).count() > 0
    keyedDecided.put(cacheKey, proven)
    proven
  }

  private def rewrite(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val conns = equiConnectors(conjuncts, left, right)
    val equis =
      if (conns.isEmpty) Seq.empty
      else if (!keyedRewrite && !keyedAuto) return None
      else liftableEquis(conns) match {
        case Some(ps) => ps
        case None => return None
      }
    val lowers = conjuncts.flatMap(lowerOf)
    val uppers = conjuncts.flatMap(upperOf)
    // a (point, lo, hi) triple in ONE type family with the point wholly
    // on one side and both bounds on the other. A numeric candidate
    // needs a usable width source: an EXPLICIT width conf (which,
    // SET to a non-positive value, disables the family outright —
    // the documented kill-switch that auto must not override; review
    // fix) or, only when the conf is UNSET, the measured mode.
    val numConf = numBucketWidth
    val candidates = for {
      (t1, lo) <- lowers
      (t2, hi) <- uppers
      if t1.exprId == t2.exprId
      isTs <- familyOf(t1, lo, hi).toSeq
      if (isTs && bucketSec > 0) ||
        (!isTs && (numConf.exists(_ > 0) ||
          (numConf.isEmpty && numWidthAuto)))
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
    // candidate whose diagnosis declines (measured-cold key, no sound
    // width) falls through to the next triple rather than vetoing the
    // join — a declined numeric band must not suppress a TS triple
    // that rewrote fine before the auto knob existed (review fix).
    // LazyList keeps it lazy: diagnoses run only until one approves.
    candidates.to(LazyList).flatMap {
      case (ts, lo, hi, points, intervals, flipped, isTs) =>
        // orient each lifted equality to (points attr, intervals
        // attr) — cross-side under the ORIGINAL left/right, which
        // {points, intervals} is a permutation of
        val orientedEquis = equis.map { case (x, y) =>
          if (points.outputSet.contains(x)) (x, y) else (y, x)
        }
        val keyedOk = equis.isEmpty || keyedRewrite ||
          keyedPileProven(points, intervals, orientedEquis)
        val widthOpt: Option[Double] =
          if (isTs || !keyedOk) None
          else numConf.filter(_ > 0)
            .orElse(measuredNumWidth(intervals, lo, hi))
        // TS width: an explicitly-set bucketSec wins job-free; auto
        // measures, falling back to the default on an unsound
        // measurement (object scaladoc — never degrade a working
        // default plan to the nested loop)
        val tsWidth: Long =
          if (!isTs || !keyedOk) 0L
          else spark.conf.getOption("spark.graft.rangeJoin.bucketSec")
            .map(_.toLong)
            .orElse(if (bucketSecAuto) measuredTsWidth(intervals, lo, hi)
              else None)
            .getOrElse(bucketSec)
        if (!keyedOk || (!isTs && widthOpt.isEmpty)) None
        else Some(build(cond, left, right, ts, lo, hi, points, intervals,
          flipped, isTs, widthOpt, tsWidth, orientedEquis))
    }.headOption
  }

  /** Assemble the bucketed replacement plan for a matched, approved
    * triple (extracted from [[rewrite]] when the measured gates made
    * the match/decide/build phases distinct). */
  private def build(cond: Expression, left: LogicalPlan,
      right: LogicalPlan, ts: Attribute, lo: Attribute, hi: Attribute,
      points: LogicalPlan, intervals: LogicalPlan, flipped: Boolean,
      isTs: Boolean, widthOpt: Option[Double], tsWidth: Long,
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
          pDf, tsName, iDf, loName, hiName, tsWidth, keyPairs)
        else graft.scale.RangeJoin.pointInIntervalNum(
          pDf, tsName, iDf, loName, hiName, widthOpt.get, keyPairs))
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
