package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class operator: logical node + planner strategy +
  * physical merge-walk exec, registered through the standard extension
  * points — the SURVEY §2.7 path-(c) shape for semantics the built-in
  * operators cannot express as ONE operator.
  *
  * Semantics: for each left row, attach the single right row with the
  * same key and the greatest ordering value ≤ the left row's (most
  * recent prior-or-equal observation; right columns NULL when none
  * exists). The reference meets this shape wherever a measurement joins
  * the latest calibration not after it (run/lumi-interval lookups,
  * `stage1/corrections/lumi_mask.py`); training pipelines meet it as
  * "price/label as of event time".
  *
  * Why a custom operator and not composition: the composed forms are
  * either a non-equi range join (planned as BroadcastNestedLoopJoin,
  * O(n·m) probes) or the union + window trick (j10 — right, but pays a
  * single interleaved sort plus window machinery and cannot preserve
  * the two sides' distinct schemas). The physical operator declares
  *   requiredChildDistribution = ClusteredDistribution(key) per side
  *   requiredChildOrdering     = (key, ts [, tieBreaks]) per side
  * so EnsureRequirements co-partitions both sides with ordinary hash
  * exchanges and the exec is a ZERO-allocation forward merge walk per
  * partition — each side is read ONCE, already sorted; nothing is
  * buffered but one lookahead row and one last-match row. At 100 TB
  * this is the same shuffle bill as a sort-merge equi-join; a bucketed
  * layout on the key makes it shuffle-free.
  *
  * Tie-break: among right rows sharing (key, ts) the LAST in the
  * declared ordering wins, so callers pass `rightTieBreak` (e.g. an id)
  * to make results deterministic — the same contract the repo's window
  * queries use (rank by value with id tie-break).
  *
  * Keys and ordering values must be non-null (as-of on a null key or
  * time is meaningless); callers filter nulls first. Column pruning
  * does not see through an unknown node, so callers project each side
  * to the needed columns before joining — the DataFrame API makes that
  * the natural spelling anyway.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightTieBreak: Seq[Expression],
    tolerance: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // the exec compares key/ts values with ONE interpreted ordering built
  // from the LEFT types, so mismatched sides (INT key vs BIGINT key) must
  // fail analysis here, not as a mid-job ClassCastException
  override lazy val resolved: Boolean = childrenResolved &&
    (Seq(leftKey, rightKey, leftTs, rightTs) ++ rightTieBreak).forall(_.resolved) &&
    leftKey.dataType.catalogString == rightKey.dataType.catalogString &&
    leftTs.dataType.catalogString == rightTs.dataType.catalogString &&
    // a staleness bound subtracts timestamps, so it needs an integral ts
    (tolerance.isEmpty || leftTs.dataType == org.apache.spark.sql.types.LongType)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tb, tol) =>
      // the same size-based physical selection BroadcastHashJoin gets
      // from JoinSelection: a small right side (calibration tables,
      // quote snapshots, price marks) broadcasts, and the LEFT side —
      // the 100 TB fact stream — is neither shuffled nor sorted
      val thresh = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      if (thresh > 0 && r.stats.sizeInBytes >= 0 && r.stats.sizeInBytes <= thresh)
        BroadcastAsOfJoinExec(lk, rk, lt, rt, tb, tol, planLater(l), planLater(r)) :: Nil
      else
        AsOfJoinExec(lk, rk, lt, rt, tb, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Broadcast as-of join: the right side is collected on the driver,
  * grouped by key and sorted by (ts, tieBreaks), and broadcast as a
  * hash index of per-key run arrays; each left partition probes by
  * binary search (rightmost ts ≤ left ts — the same "last eligible in
  * sort order" contract as the merge walk). No required distribution
  * or ordering on EITHER child: the left side keeps its partitioning
  * and never sorts, which against a small right side turns the as-of
  * join into a map-only operator. */
case class BroadcastAsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightTieBreak: Seq[Expression],
    tolerance: Option[Long],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val tsOrdering = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTs = BindReferences.bindReference(rightTs, right.output)
    val rTie = rightTieBreak.map(BindReferences.bindReference(_, right.output))
    val tieOrderings = rightTieBreak.map(e =>
      TypeUtils.getInterpretedOrdering(e.dataType))
    // driver-side index build: rows are already copies (executeCollect)
    val rows = right.executeCollect()
    val byKey = new java.util.HashMap[Any, java.util.ArrayList[InternalRow]]()
    rows.foreach { r =>
      byKey.computeIfAbsent(rKey.eval(r), _ => new java.util.ArrayList[InternalRow]())
        .add(r)
    }
    val rowOrd = new java.util.Comparator[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int = {
        val c = tsOrdering.compare(rTs.eval(a), rTs.eval(b))
        if (c != 0) c
        else rTie.zip(tieOrderings).iterator.map { case (e, o) =>
          o.compare(e.eval(a), e.eval(b))
        }.find(_ != 0).getOrElse(0)
      }
    }
    val index = new java.util.HashMap[Any, (Array[Any], Array[InternalRow])]()
    byKey.forEach { (k, list) =>
      list.sort(rowOrd)
      val arr = list.toArray(new Array[InternalRow](list.size()))
      index.put(k, (arr.map(rTs.eval(_)), arr))
    }
    val bc = sparkContext.broadcast(index)
    val rightWidth = right.output.size
    val outAttrs = output
    left.execute().mapPartitions { lIter =>
      val idx = bc.value
      val lKey = BindReferences.bindReference(leftKey, left.output)
      val lTs = BindReferences.bindReference(leftTs, left.output)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      // bind against the nullability-widened output (see AsOfJoinExec)
      val project = UnsafeProjection.create(outAttrs, outAttrs)
      lIter.map { l =>
        val hit = idx.get(lKey.eval(l))
        if (hit == null) project(joined(l, nullRight))
        else {
          val (tsVals, rRows) = hit
          val lt = lTs.eval(l)
          // rightmost index with ts <= lt
          var lo = 0; var hi = tsVals.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (tsOrdering.compare(tsVals(mid), lt) <= 0) lo = mid + 1 else hi = mid
          }
          if (lo == 0) project(joined(l, nullRight))
          else {
            // staleness bound: the rightmost eligible match must also be
            // recent enough; too-stale matches emit the null row, the
            // same contract as no match at all
            val ok = tolerance.forall(tol =>
              lt.asInstanceOf[Long] - tsVals(lo - 1).asInstanceOf[Long] <= tol)
            if (ok) project(joined(l, rRows(lo - 1)))
            else project(joined(l, nullRight))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightTieBreak: Seq[Expression],
    tolerance: Option[Long],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // both sides clustered on the key: EnsureRequirements inserts
  // compatible hash exchanges (or none, if the child is already
  // hash-partitioned on the key — e.g. a bucketed scan)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)) ++
      rightTieBreak.map(e => SortOrder(e, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  protected override def doExecute(): RDD[InternalRow] = {
    val keyOrdering = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrdering = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKey = BindReferences.bindReference(leftKey, left.output)
      val lTs = BindReferences.bindReference(leftTs, left.output)
      val rKey = BindReferences.bindReference(rightKey, right.output)
      val rTs = BindReferences.bindReference(rightTs, right.output)
      val nullRight = new GenericInternalRow(right.output.size)
      val joined = new JoinedRow
      // bind against the NULLABILITY-WIDENED schema (`output`, not
      // left.output ++ right.output): binding to the right side's original
      // non-nullable attributes would skip the null check and read the
      // null-fill row's longs as 0 instead of NULL
      val project = UnsafeProjection.create(output, output)
      // one-row lookahead; rows from the sorted child are reused buffers,
      // so anything held across next() is copied
      var rNext: InternalRow = if (rIter.hasNext) rIter.next().copy() else null
      var lastMatch: InternalRow = null
      var lastMatchKey: Any = null
      lIter.map { l =>
        val lk = lKey.eval(l)
        val lt = lTs.eval(l)
        var walking = rNext != null
        while (walking) {
          val rk = rKey.eval(rNext)
          val c = keyOrdering.compare(rk, lk)
          if (c < 0) {
            // right rows for keys already passed: drop
            rNext = if (rIter.hasNext) rIter.next().copy() else null
            walking = rNext != null
          } else if (c == 0 && tsOrdering.compare(rTs.eval(rNext), lt) <= 0) {
            // eligible: remember and keep walking — the LAST eligible row
            // in sort order is the as-of match
            lastMatch = rNext
            lastMatchKey = rk
            rNext = if (rIter.hasNext) rIter.next().copy() else null
            walking = rNext != null
          } else {
            walking = false // right side is ahead of this left row
          }
        }
        if (lastMatch != null && keyOrdering.compare(lastMatchKey, lk) == 0 &&
            tolerance.forall(tol =>
              lt.asInstanceOf[Long] -
                rTs.eval(lastMatch).asInstanceOf[Long] <= tol)) {
          project(joined(l, lastMatch))
        } else {
          project(joined(l, nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API. Key/ts/tie-break columns are resolved by name
  * against their own side, so self-joins need no attribute
  * disambiguation as long as each side projects distinct names. */
object AsOf {
  def join(left: DataFrame, right: DataFrame,
           leftKey: Column, leftTs: Column,
           rightKey: Column, rightTs: Column,
           rightTieBreak: Seq[Column] = Nil,
           tolerance: Option[Long] = None): DataFrame =
    joinInternal(left, right, leftKey, leftTs, rightKey, rightTs,
      rightTieBreak, tolerance, negateTs = false)

  private def joinInternal(left: DataFrame, right: DataFrame,
           leftKey: Column, leftTs: Column,
           rightKey: Column, rightTs: Column,
           rightTieBreak: Seq[Column],
           tolerance: Option[Long],
           negateTs: Boolean): DataFrame = {
    val spark = left.sparkSession
    // GraftExtensions-built sessions already carry the strategy and the
    // rule; this is the fallback for plain sessions. The check-and-append
    // is atomic so concurrent first callers cannot add either twice.
    spark.experimental.synchronized {
      if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
        spark.experimental.extraStrategies :+= AsOfJoinStrategy
      if (!spark.sessionState.optimizer.batches.exists(_.rules.contains(AsOfJoinPruning)))
        spark.experimental.extraOptimizations :+= AsOfJoinPruning
    }
    val lPlan = GraftBridge.analyzed(left)
    val rPlan = GraftBridge.analyzed(right)
    // name resolution follows the session's configured case sensitivity
    // (same resolver the analyzer uses) and refuses ambiguous names
    // instead of silently taking the first match
    val resolverFn = spark.sessionState.conf.resolver
    def resolveAttr(plan: LogicalPlan, u: UnresolvedAttribute): Expression =
      plan.output.filter(a => resolverFn(a.name, u.name)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column ${u.name} not found in [${plan.output.map(_.name).mkString(", ")}]")
        case many => throw new IllegalArgumentException(
          s"column ${u.name} is ambiguous: matches [${many.map(_.name).mkString(", ")}]")
      }
    // resolve nested references too, so computed ordering columns (e.g.
    // the negation joinForward builds) work like plain names
    def resolve(plan: LogicalPlan, c: Column): Expression =
      GraftBridge.expression(c).transformUp {
        case u: UnresolvedAttribute => resolveAttr(plan, u)
      }
    val (lk, rk) = (resolve(lPlan, leftKey), resolve(rPlan, rightKey))
    def ts(plan: LogicalPlan, c: Column): Expression = {
      val e = resolve(plan, c)
      // forward direction: most-recent-prior of −t = earliest-later of t
      if (negateTs) org.apache.spark.sql.catalyst.expressions.UnaryMinus(e)
      else e
    }
    val (lt, rt) = (ts(lPlan, leftTs), ts(rPlan, rightTs))
    def requireSameType(what: String, l: Expression, r: Expression): Unit =
      if (l.dataType.catalogString != r.dataType.catalogString) throw new IllegalArgumentException(
        s"as-of join $what types must match: left ${l.dataType.simpleString} " +
          s"vs right ${r.dataType.simpleString}")
    requireSameType("key", lk, rk)
    requireSameType("ordering", lt, rt)
    tolerance.foreach { tol =>
      require(tol >= 0, s"as-of tolerance must be >= 0, got $tol")
      if (lt.dataType != org.apache.spark.sql.types.LongType)
        throw new IllegalArgumentException(
          s"as-of tolerance needs a LONG ordering column, got ${lt.dataType.simpleString}")
    }
    GraftBridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      lk, rk, lt, rt, rightTieBreak.map(resolve(rPlan, _)), tolerance))
  }

  /** FORWARD as-of: match each left row to the EARLIEST right row at or
    * after it (per key), optionally within `tolerance`. Implemented by
    * running the backward operator on negated ordering columns — the
    * most-recent-prior of −t is the earliest-later of t, and the
    * staleness bound (−lt) − (−rt) = rt − lt becomes the forward
    * window. Both physical forms (merge walk, broadcast probe) are
    * reused unchanged; among equal timestamps the max tie-break wins,
    * the same contract as the backward direction. */
  def joinForward(left: DataFrame, right: DataFrame,
                  leftKey: Column, leftTs: Column,
                  rightKey: Column, rightTs: Column,
                  rightTieBreak: Seq[Column] = Nil,
                  tolerance: Option[Long] = None): DataFrame =
    joinInternal(left, right, leftKey, leftTs, rightKey, rightTs,
      rightTieBreak, tolerance, negateTs = true)
}
