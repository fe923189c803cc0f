package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.LongType

/** Range-join rewrite (SURVEY §2.7 path: a plan rewrite that changes
  * the JOIN ALGORITHM, not just the plan shape).
  *
  * An inner join whose only cross-side predicates are
  * `lo <= x AND x < hi` has no equi-key, so Spark plans a nested-loop
  * join — O(|L|·|R|) comparisons even when one side broadcasts. The
  * repo's j11/j13 show the manual fix: explode each interval into the
  * fixed-width buckets it spans and equi-join on the bucket with the
  * range predicate as a residual. [[on]] performs that rewrite on a
  * DataFrame's plan:
  *
  *   Join(L, R, lo <= x && x < hi)
  *     ⇒ Project(origOutput,
  *         Join(Generate(explode(sequence(lo div W, hi div W)), L),
  *              Project(R :+ x div W),
  *              bucket_l = bucket_r && lo <= x && x < hi))
  *
  * (div = floor division, exact on longs). The residual keeps the
  * rewrite LOSSLESS for any bucket width; the width only tunes the
  * explode factor versus bucket selectivity — exactly the contract of
  * a range-join "bin size" hint. The caller passes the width with the
  * DataFrame that wants the rewrite, because a good width is data
  * knowledge the user has and the optimizer does not: it should be ≥
  * the typical interval length (each interval then explodes into ≤ 2
  * buckets). The rewritten plan belongs to the returned DataFrame, so
  * it holds whenever and on whichever thread that DataFrame runs.
  *
  * Scope guards: inner joins; all range endpoints LongType and
  * deterministic; bounds both from one side, probe from the other; no
  * existing cross-side equality conjunct (those already hash-join).
  * The rewritten join HAS an equality conjunct, so rewriting its
  * output again changes nothing. [[on]] sees the plan as analyzed,
  * before predicate pushdown, so the range must be the join's own
  * condition: one written as a `.where` above the join, or as a SQL
  * comma join, is left as written.
  */
object RangeJoinRewrite extends PredicateHelper {

  /** `df` with every range theta join in its plan bucketed at `width`;
    * only range conjuncts in a join's own condition are seen. Throws
    * IllegalArgumentException naming `width` unless it is positive. */
  def on(df: DataFrame, width: Long): DataFrame = {
    if (width <= 0) throw new IllegalArgumentException(
      s"range-join bucket width must be positive, got $width")
    val spark = df.sparkSession
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    GraftBridge.ofRows(spark, GraftBridge.analyzed(df).transformDown {
      case j @ Join(left, right, Inner, Some(cond), _) =>
        rewrite(j, left, right, cond, width, tz).getOrElse(j)
    })
  }

  /** exprs fully resolved from `side` (and non-empty references). */
  private def from(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet) &&
      e.deterministic && e.dataType == LongType

  private def floorDiv(e: Expression, w: Long): Expression = {
    val lw = Literal(w, LongType)
    IntegralDivide(Subtract(e, Pmod(e, lw)), lw)
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                      cond: Expression, width: Long, tz: String): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    def crossSide(e: Expression): Boolean =
      e.references.intersect(left.outputSet).nonEmpty &&
        e.references.intersect(right.outputSet).nonEmpty
    // an existing cross-side equality already gives a hash join key
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) => crossSide(EqualTo(a, b))
      case EqualNullSafe(a, b) => crossSide(EqualNullSafe(a, b))
      case _ => false
    }
    if (hasEqui) return None

    // normalize every comparison to (smaller, larger)
    def asLeq(e: Expression): Option[(Expression, Expression)] = e match {
      case LessThanOrEqual(a, b) => Some((a, b))
      case LessThan(a, b) => Some((a, b))
      case GreaterThanOrEqual(a, b) => Some((b, a))
      case GreaterThan(a, b) => Some((b, a))
      case _ => None
    }
    val leqs = conjuncts.flatMap(c => asLeq(c).map(ab => (c, ab._1, ab._2)))

    // find x with lo <= x (lower) and x <= hi (upper), bounds from the
    // OPPOSITE side of x; try both orientations
    def find(boundSide: LogicalPlan, probeSide: LogicalPlan):
        Option[(Expression, Expression, Expression)] =
      (for {
        (_, lo, x1) <- leqs if from(lo, boundSide) && from(x1, probeSide)
        (_, x2, hi) <- leqs if x2.semanticEquals(x1) && from(hi, boundSide)
      } yield (lo, x1, hi)).headOption

    val leftBound = find(left, right)
    val rightBound = if (leftBound.isDefined) None else find(right, left)
    val (boundsOnLeft, lo, x, hi) = (leftBound, rightBound) match {
      case (Some((l, p, h)), _) => (true, l, p, h)
      case (_, Some((l, p, h))) => (false, l, p, h)
      case _ => return None
    }

    val bucketAttr =
      AttributeReference("_graft_range_bucket", LongType, nullable = false)()
    // Sequence is TimeZoneAwareExpression: without a zone id it is
    // unresolved, so the session's zone is set here and the rewritten
    // plan stays resolved (integer sequences never use it)
    val gen = Explode(Sequence(floorDiv(lo, width), floorDiv(hi, width),
      None, Some(tz)))
    val probeAlias = Alias(floorDiv(x, width), "_graft_range_probe")()
    val (newLeft, newRight) =
      if (boundsOnLeft)
        (Generate(gen, Nil, outer = false, None, Seq(bucketAttr), left),
          Project(right.output :+ probeAlias, right))
      else
        (Project(left.output :+ probeAlias, left),
          Generate(gen, Nil, outer = false, None, Seq(bucketAttr), right))
    val newCond = And(EqualTo(bucketAttr, probeAlias.toAttribute), cond)
    val newJoin = Join(newLeft, newRight, Inner, Some(newCond), j.hint)
    Some(Project(j.output.map(_.asInstanceOf[NamedExpression]), newJoin))
  }
}
