package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Banded genomic range join — the scale path for point-in-interval
  * joins (SURVEY §4 candidate #3; reference sites: the locus-statistics
  * and interval-containment joins, src/gentropy/dataset/study_locus.py:
  * 971-1037 and 1193-1245).
  *
  * The reference (and our J3/J4 queries) broadcasts the interval side.
  * That dies in two ways at 100 TB: the interval side outgrows the
  * broadcast threshold (→ BroadcastNestedLoopJoin, quadratic), or the
  * only equi key is the chromosome (→ a ~25-partition shuffle join,
  * unusable skew). The band rewrite fixes both with existing operators:
  * points get `band = floor(pos / width)` as an extra equi key, and
  * each interval explodes to the bands it overlaps
  * (`sequence(floor(lo/w), floor(hi/w))`) — an interval of length L
  * lands in at most L/width + 2 bands, so the blow-up is bounded and
  * chosen by the caller. The join is then a plain shuffled equi-join on
  * (keys..., band) with the range predicate as a residual filter —
  * co-partitioned, skew-free, AQE-eligible.
  *
  * Two surfaces:
  *  - [[BandJoin.bandJoin]]: the explicit compositional operator;
  *  - [[BandJoinRewrite]]: a `Rule[LogicalPlan]`, registered once on
  *    every session [[graft.GraftSession]] builds (through
  *    [[GraftExtensions]] on `spark.sql.extensions`), that applies the
  *    same rewrite automatically to inner joins whose ONLY usable
  *    predicates are a range band — the exact shape Catalyst would
  *    otherwise execute as BroadcastNestedLoopJoin.
  */
object BandJoin {

  /** Inner-join `points` with `intervals` on
    * `pointKeys == intervalKeys AND pos BETWEEN lo AND hi` using band
    * bucketing. All columns of both frames are preserved; `width` must
    * exceed 0 and should be of the order of the typical interval
    * length (wider = fewer duplicate interval rows, narrower = fewer
    * residual-filtered candidates).
    *
    * Both sides are repartitioned on the full equi-key set with an
    * EXPLICIT partition count (default: the session's shuffle
    * parallelism). The explicit count matters: a band join's cost is
    * the CANDIDATE pairs the residual range filter evaluates, which is
    * orders of magnitude more CPU than its shuffle bytes suggest — and
    * AQE's byte-based coalescing, seeing a sub-advisory-size shuffle,
    * collapses it to one partition and serialises the whole
    * candidate-evaluation loop onto one core (measured: 13 s
    * single-task vs ~1.5 s at 16-way on 600k×150k). A
    * `REPARTITION_BY_NUM` exchange is exempt from AQE coalescing and
    * is reused by the join (same keys), so this costs no extra
    * shuffle. */
  def bandJoin(points: DataFrame, intervals: DataFrame,
               posCol: String, loCol: String, hiCol: String,
               width: Long,
               pointKeys: Seq[String] = Nil,
               intervalKeys: Seq[String] = Nil,
               partitions: Option[Int] = None): DataFrame = {
    require(width > 0, "band width must be positive")
    require(pointKeys.length == intervalKeys.length,
      "pointKeys and intervalKeys must pair up")
    val n = partitions.getOrElse(
      points.sparkSession.sessionState.conf.numShufflePartitions)
    val p = points.withColumn("_graft_band",
        floor(col(posCol).cast("double") / width.toDouble))
      .repartition(n, (pointKeys :+ "_graft_band").map(col): _*)
    val iv = intervals.withColumn("_graft_band",
        explode(sequence(
          floor(col(loCol).cast("double") / width.toDouble),
          floor(col(hiCol).cast("double") / width.toDouble))))
      .repartition(n, (intervalKeys :+ "_graft_band").map(col): _*)
    val keyCond = pointKeys.zip(intervalKeys)
      .map { case (pk, ik) => p(pk) === iv(ik) }
    val cond = (keyCond :+ (p("_graft_band") === iv("_graft_band")) :+
      p(posCol).between(iv(loCol), iv(hiCol))).reduce(_ && _)
    p.join(iv, cond).drop("_graft_band")
  }
}

/** Optimizer rule: rewrite an inner join whose condition contains a
  * `pos >= lo AND pos <= hi` band (point side / bound side disjoint)
  * and NO equi conjunct — the BroadcastNestedLoopJoin shape — into the
  * band-bucketed equi-join of [[BandJoin]]. Joins that already carry an
  * equi key, carry a join hint, or are non-inner are left untouched
  * (Catalyst plans those fine, and a hint is an explicit user choice).
  *
  * Config: `spark.graft.bandJoin.enabled` (default true),
  * `spark.graft.bandJoin.width` (default `auto`: derived per join from
  * interval-length statistics; any positive long pins it). A mis-set
  * fixed width fails in one of two directions — too narrow explodes
  * every interval into thousands of bands, too wide degenerates to a
  * handful of giant buckets — so auto mode samples up to 10k interval
  * rows at rewrite time (a bounded LIMIT subquery, executed once per
  * optimization) and picks the next power of two above
  * `max(p95 length, maxLen / 4096)`: p95 sizes bands to the typical
  * interval (≲3 bands each), while the maxLen floor bounds the band
  * fan-out of the longest sampled interval.
  * Idempotent under the fixed-point optimizer batch: the rewritten join
  * has an equi conjunct, so the guard never matches it again.
  */
case class BandJoinRewrite(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {
  import BandJoinRewrite._

  private def enabled: Boolean =
    conf.getConfString("spark.graft.bandJoin.enabled", "true").toBoolean
  private def widthConf: Option[Long] = {
    val v = conf.getConfString("spark.graft.bandJoin.width", "auto")
    if (v.equalsIgnoreCase("auto")) None else Some(v.toLong)
  }

  // one stats job per distinct (bound plan, lo, hi) per session: each
  // action on a DataFrame re-optimizes its plan, and without the memo
  // every re-optimization would re-pay the sampling job AND could
  // re-derive a different width (LIMIT samples are not stable), making
  // the physical plan nondeterministic across actions. Canonicalized
  // keys survive expression-id renumbering; bounded so a long-lived
  // session cannot leak plans.
  private val widthMemo =
    new java.util.concurrent.ConcurrentHashMap[(LogicalPlan, Expression, Expression), Option[Long]]()

  private def derivedWidth(boundPlan: LogicalPlan, lo: Expression,
                           hi: Expression): Option[Long] = {
    val key = (boundPlan.canonicalized, lo.canonicalized, hi.canonicalized)
    if (widthMemo.size() > 256) widthMemo.clear()
    widthMemo.computeIfAbsent(key, _ => deriveWidth(boundPlan, lo, hi))
  }

  /** Derive a band width from the bound side's interval lengths: next
    * power of two ≥ max(p95 length, max length / [[MaxBandsPerInterval]])
    * over a ≤[[WidthSampleRows]]-row sample. None when the sample is
    * empty, degenerate (all non-positive lengths), or fails to
    * execute — callers fall back to [[DefaultWidth]]. */
  def deriveWidth(boundPlan: LogicalPlan, lo: Expression,
                  hi: Expression): Option[Long] =
    try {
      val len = Alias(Subtract(Cast(hi, DoubleType), Cast(lo, DoubleType)),
        "_graft_len")()
      val limited = Limit(Literal(WidthSampleRows),
        Project(Seq(len), boundPlan))
      import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Max}
      val p95 = Alias(new ApproximatePercentile(len.toAttribute,
        Literal(0.95d),
        Literal(ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY))
        .toAggregateExpression(), "_graft_p95")()
      val mx = Alias(Max(len.toAttribute).toAggregateExpression(),
        "_graft_max")()
      val rows = session.sessionState
        .executePlan(Aggregate(Nil, Seq(p95, mx), limited))
        .executedPlan.executeCollect()
      if (rows.isEmpty || rows(0).isNullAt(0) || rows(0).isNullAt(1)) None
      else {
        val p = rows(0).getDouble(0)
        val m = rows(0).getDouble(1)
        // the finite guards matter: Max orders NaN above every double,
        // and a NaN target would fall through nextPow2's `w < x` loop
        // as width 1 — the band-explosion worst case, not a fallback
        if (!java.lang.Double.isFinite(m) || !java.lang.Double.isFinite(p)
          || m <= 0) None
        else Some(nextPow2(math.max(MinWidth.toDouble,
          math.max(p, m / MaxBandsPerInterval))))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def isNumeric(e: Expression): Boolean = e.dataType match {
    case _: org.apache.spark.sql.types.NumericType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if j.resolved && hint == JoinHint.NONE &&
            cond.deterministic =>
        rewrite(j, left, right, cond).getOrElse(j)
    }

  /** `e` is a band bound comparison `point >= bound` (in any of its
    * four spellings) with the point expression evaluable on `pointSide`
    * and the bound on `boundSide`; returns (point, bound). */
  private def lowerBound(e: Expression, pointSide: LogicalPlan,
                         boundSide: LogicalPlan): Option[(Expression, Expression)] =
    e match {
      case GreaterThanOrEqual(p, b)
          if canEvaluate(p, pointSide) && canEvaluate(b, boundSide) => Some((p, b))
      case LessThanOrEqual(b, p)
          if canEvaluate(p, pointSide) && canEvaluate(b, boundSide) => Some((p, b))
      case _ => None
    }

  private def upperBound(e: Expression, pointSide: LogicalPlan,
                         boundSide: LogicalPlan): Option[(Expression, Expression)] =
    e match {
      case LessThanOrEqual(p, b)
          if canEvaluate(p, pointSide) && canEvaluate(b, boundSide) => Some((p, b))
      case GreaterThanOrEqual(b, p)
          if canEvaluate(p, pointSide) && canEvaluate(b, boundSide) => Some((p, b))
      case _ => None
    }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                      cond: Expression): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val hasEqui = conjuncts.exists {
      case EqualTo(l, r) =>
        (canEvaluate(l, left) && canEvaluate(r, right)) ||
          (canEvaluate(l, right) && canEvaluate(r, left))
      case _ => false
    }
    if (hasEqui) return None

    // find a (pos >= lo, pos <= hi) pair with pos on one side and both
    // bounds on the other — try points-on-left first, then mirrored
    def findBand(pointSide: LogicalPlan, boundSide: LogicalPlan)
        : Option[(Expression, Expression, Expression)] = {
      val lowers = conjuncts.flatMap(lowerBound(_, pointSide, boundSide))
      val uppers = conjuncts.flatMap(upperBound(_, pointSide, boundSide))
      (for {
        (p1, lo) <- lowers
        (p2, hi) <- uppers
        if p1.semanticEquals(p2) && isNumeric(p1) && isNumeric(lo) && isNumeric(hi)
      } yield (p1, lo, hi)).headOption
    }

    val (pointsOnLeft, band) = findBand(left, right) match {
      case Some(b) => (true, Some(b))
      case None => (false, findBand(right, left))
    }
    band.map { case (pos, lo, hi) =>
      val (pointPlan, boundPlan) = if (pointsOnLeft) (left, right) else (right, left)
      val width = widthConf
        .orElse(derivedWidth(boundPlan, lo, hi))
        .getOrElse(DefaultWidth)
      def bandOf(e: Expression): Expression =
        Floor(Divide(Cast(e, DoubleType), Literal(width.toDouble)))
      val pointBand = Alias(bandOf(pos), "_graft_band_p")()
      val pointProj = Project(pointPlan.output :+ pointBand, pointPlan)
      val bandAttr = AttributeReference("_graft_band_i", LongType)()
      val gen = Generate(
        // no explicit step: an inverted (malformed) interval then yields
        // a descending band list whose rows the residual range filter
        // drops — matching the naive join's empty result — instead of
        // the runtime error sequence(lo, hi, 1) would raise. The
        // timezone must be bound here: a TimeZoneAwareExpression with
        // None stays unresolved, failing plan validation.
        Explode(Sequence(bandOf(lo), bandOf(hi), None,
          Some(conf.sessionLocalTimeZone))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(bandAttr), child = boundPlan)
      val newCond = And(cond, EqualTo(pointBand.toAttribute, bandAttr))
      // explicit-count repartitions on the band key: AQE's byte-based
      // coalescing would otherwise collapse this CPU-bound residual
      // join (cost ∝ candidate pairs, not shuffle bytes) to one task;
      // REPARTITION_BY_NUM exchanges are exempt and reused by the join
      val n = conf.numShufflePartitions
      val pointRep = RepartitionByExpression(
        Seq(pointBand.toAttribute), pointProj, Some(n))
      val boundRep = RepartitionByExpression(Seq(bandAttr), gen, Some(n))
      val (newLeft, newRight) =
        if (pointsOnLeft) (pointRep: LogicalPlan, boundRep: LogicalPlan)
        else (boundRep: LogicalPlan, pointRep: LogicalPlan)
      Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), JoinHint.NONE))
    }
  }
}

object BandJoinRewrite {
  /** Fallback width when no fixed width is configured and stats are
    * unusable (empty/degenerate interval side) — the genomic window. */
  val DefaultWidth: Long = 500000L
  /** Rows sampled (via LIMIT) for the width derivation. */
  val WidthSampleRows: Int = 10000
  /** Band fan-out bound for the longest sampled interval: width never
    * drops below maxLen / this, so one interval explodes to at most
    * ~this many band rows. */
  val MaxBandsPerInterval: Int = 4096
  /** Floor on the derived width (degenerate tiny intervals). */
  val MinWidth: Long = 16L

  private[plans] def nextPow2(x: Double): Long = {
    var w = 1L
    while (w < x && w < (1L << 62)) w <<= 1
    w
  }
}

/** `spark.sql.extensions` entry point registering [[BandJoinRewrite]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(session => BandJoinRewrite(session))
}
