package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType}

/** `within_radius(ax, ay, bx, by, r)` — the planar radius predicate
  * `(ax−bx)² + (ay−by)² ≤ r²`, exposed as a named expression so a
  * plan rewrite can RECOGNIZE a spatial join and change its algorithm
  * (the Sedona/PostGIS convention: spatial predicates are functions the
  * planner pattern-matches, because a raw arithmetic tree is too
  * brittle to match reliably). Evaluates exactly the naive arithmetic —
  * as a plain filter it costs the same as writing the formula out; its
  * value is being the [[SpatialJoinRewrite]] anchor.
  */
case class WithinRadius(ax: Expression, ay: Expression,
    bx: Expression, by: Expression, r: Expression)
  extends Expression with Predicate {

  override def children: Seq[Expression] = Seq(ax, ay, bx, by, r)
  // r participates in the null guard: a foldable NULL radius must yield
  // NULL identically under interpreted eval and codegen (a guard only on
  // the coordinates would unbox null to 0.0 in one path but not the other)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType) && r.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs four double coordinates and a foldable double radius")

  override def eval(input: InternalRow): Any = {
    val a1 = ax.eval(input); val a2 = ay.eval(input)
    val b1 = bx.eval(input); val b2 = by.eval(input)
    val rvv = r.eval(input)
    if (a1 == null || a2 == null || b1 == null || b2 == null || rvv == null) null
    else {
      val rv = rvv.asInstanceOf[Double]
      val dx = a1.asInstanceOf[Double] - b1.asInstanceOf[Double]
      val dy = a2.asInstanceOf[Double] - b2.asInstanceOf[Double]
      java.lang.Boolean.valueOf(dx * dx + dy * dy <= rv * rv)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val axC = ax.genCode(ctx); val ayC = ay.genCode(ctx)
    val bxC = bx.genCode(ctx); val byC = by.genCode(ctx)
    val rC = r.genCode(ctx)
    val dx = ctx.freshName("dx"); val dy = ctx.freshName("dy")
    ev.copy(code = code"""
      ${axC.code}
      ${ayC.code}
      ${bxC.code}
      ${byC.code}
      ${rC.code}
      boolean ${ev.isNull} = ${axC.isNull} || ${ayC.isNull} ||
        ${bxC.isNull} || ${byC.isNull} || ${rC.isNull};
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        final double $dx = ${axC.value} - ${bxC.value};
        final double $dy = ${ayC.value} - ${byC.value};
        ${ev.value} = $dx * $dx + $dy * $dy <= ${rC.value} * ${rC.value};
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WithinRadius =
    copy(ax = newChildren(0), ay = newChildren(1), bx = newChildren(2),
      by = newChildren(3), r = newChildren(4))

  override def prettyName: String = "within_radius"
}

/** 2-D radius-join rewrite — the planar generalization of
  * [[RangeJoinRewrite]] and the plan-rewrite form of the manual grid
  * trick the repo uses in j17 (haversine) and d22 (DBSCAN):
  *
  *   Join(L, R, within_radius(ax, ay, bx, by, r) && rest)
  *     ⇒ Project(origOutput,
  *         Join(Generate(explode(⟨9 neighbor cell keys of (ax,ay)⟩), L),
  *              Project(R :+ cellKey(bx, by)),
  *              cell_l = cell_r && within_radius(...) && rest))
  *
  * Cell width = r, so a true pair's cells differ by at most one in each
  * axis and the 3×3 neighborhood is exhaustive — the ORIGINAL predicate
  * stays as a residual, making the rewrite lossless for any r > 0. The
  * cell key packs (⌊x/r⌋, ⌊y/r⌋) as cx·2³² + cy — injective while
  * |cy| < 2³¹, i.e. for any coordinate magnitude below r·2³¹. Without
  * the rewrite Spark has no equi-key and plans a nested-loop join:
  * O(|L|·|R|) distance evaluations; with it, candidates are cell-local.
  *
  * Opt-in per DataFrame through [[on]] (the rewrite multiplies one
  * side's rows by 9 — a trade the caller chooses for the join that
  * wants it, as with RangeJoinRewrite's width). Scope: inner joins, a
  * `within_radius` conjunct with sides split across the join, a
  * foldable radius that evaluates positive, no existing cross-side
  * equality (those already hash join; also leaves the rewrite's own
  * output unchanged). [[on]] sees the plan as analyzed, before
  * predicate pushdown, so the predicate must be the join's own
  * condition: one written as a `.where` above the join, or as a SQL
  * comma join, is left as written.
  */
object SpatialJoinRewrite extends PredicateHelper {

  /** `df` with every radius theta join in its plan cell-keyed; only
    * a `within_radius` in a join's own condition is seen. */
  def on(df: DataFrame): DataFrame =
    GraftBridge.ofRows(df.sparkSession, GraftBridge.analyzed(df).transformDown {
      case j @ Join(left, right, Inner, Some(cond), _) =>
        rewrite(j, left, right, cond).getOrElse(j)
    })

  private def from(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet) &&
      e.deterministic

  /** ⌊e / r⌋ as a long cell index. */
  private def cellIdx(e: Expression, r: Double): Expression =
    Floor(Divide(e, Literal(r, DoubleType)))

  private def cellKey(cx: Expression, cy: Expression): Expression =
    Add(Multiply(cx, Literal(1L << 32, LongType)), cy)

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                      cond: Expression): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    def crossSide(e: Expression): Boolean =
      e.references.intersect(left.outputSet).nonEmpty &&
        e.references.intersect(right.outputSet).nonEmpty
    val hasEqui = conjuncts.exists {
      case eq: EqualTo => crossSide(eq)
      case eq: EqualNullSafe => crossSide(eq)
      case _ => false
    }
    if (hasEqui) return None

    // a within_radius conjunct whose (ax,ay) resolve from one side and
    // (bx,by) from the other, radius foldable to a positive double
    def split(wr: WithinRadius): Boolean =
      (from(wr.ax, left) && from(wr.ay, left) && from(wr.bx, right) && from(wr.by, right)) ||
        (from(wr.ax, right) && from(wr.ay, right) && from(wr.bx, left) && from(wr.by, left))
    def radius(rl: Expression): Option[Double] =
      if (!rl.foldable) None
      else rl.eval() match {
        case d: Double if d > 0.0 => Some(d)
        case _ => None
      }
    val (wr, r) = conjuncts.iterator.collect {
      case wr: WithinRadius if split(wr) => radius(wr.r).map(wr -> _)
    }.flatten.nextOption().getOrElse(return None)
    val leftHasA = from(wr.ax, left)
    val (lx, ly) = if (leftHasA) (wr.ax, wr.ay) else (wr.bx, wr.by)
    val (rx, ry) = if (leftHasA) (wr.bx, wr.by) else (wr.ax, wr.ay)

    val cellAttr =
      AttributeReference("_graft_cell", LongType, nullable = true)()
    val lcx = cellIdx(lx, r); val lcy = cellIdx(ly, r)
    val neighbors = for (dx <- -1 to 1; dy <- -1 to 1) yield
      cellKey(Add(lcx, Literal(dx.toLong, LongType)),
        Add(lcy, Literal(dy.toLong, LongType)))
    val gen = Explode(CreateArray(neighbors))
    val probeAlias =
      Alias(cellKey(cellIdx(rx, r), cellIdx(ry, r)), "_graft_cell_probe")()
    val newLeft = Generate(gen, Nil, outer = false, None, Seq(cellAttr), left)
    val newRight = Project(right.output :+ probeAlias, right)
    val newCond = And(EqualTo(cellAttr, probeAlias.toAttribute), cond)
    val newJoin = Join(newLeft, newRight, Inner, Some(newCond), j.hint)
    Some(Project(j.output.map(_.asInstanceOf[NamedExpression]), newJoin))
  }
}
