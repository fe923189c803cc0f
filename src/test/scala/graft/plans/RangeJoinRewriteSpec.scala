package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RangeJoinRewrite: the theta join `lo <= x AND x < hi` must plan as
  * a bucketed hash join (Generate + equi-key) after `on`, stay a
  * nested-loop join without it, and return IDENTICAL rows either way
  * (the residual predicate makes the rewrite lossless for any width). */
class RangeJoinRewriteSpec extends SparkSpec {

  private def intervals: DataFrame = {
    val s = spark
    import s.implicits._
    // [lo, hi) intervals of varying length, some overlapping
    (0L until 200L).map(i => (i, i * 10, i * 10 + 7 + (i % 13)))
      .toDF("iv_id", "lo", "hi")
  }
  private def points: DataFrame = {
    val s = spark
    import s.implicits._
    (0L until 2000L).map(p => (p, p)).toDF("pt_id", "x")
  }

  /** The theta join, rewritten at `width`, or as written. */
  private def theta(width: Option[Long]): DataFrame = {
    val df = intervals.join(points, col("lo") <= col("x") && col("x") < col("hi"))
      .select(col("iv_id"), col("pt_id"))
    width.fold(df)(RangeJoinRewrite.on(df, _))
  }

  test("without the rewrite the theta join stays nested-loop") {
    val plan = theta(None).queryExecution.executedPlan.toString
    assert(plan.contains("NestedLoopJoin") || plan.contains("CartesianProduct"),
      s"expected a nested-loop plan, got:\n$plan")
  }

  test("with the rewrite the join becomes Generate + hash join") {
    val plan = theta(Some(32L)).queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), s"no Generate in:\n$plan")
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"still nested-loop:\n$plan")
    assert(plan.contains("_graft_range_bucket"), s"no bucket key in:\n$plan")
  }

  test("rewrite is lossless: identical rows for several widths") {
    val want = theta(None).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(want.nonEmpty)
    for (w <- Seq(1L, 8L, 32L, 1024L)) {
      val got = theta(Some(w)).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == want, s"width $w diverged: ${got.size} vs ${want.size} rows")
    }
  }

  test("a range written as a .where above the join is left as written") {
    val plan = RangeJoinRewrite.on(intervals.join(points)
        .where(col("lo") <= col("x") && col("x") < col("hi")), 32L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("_graft_range_bucket"), s"rewrite saw a .where range:\n$plan")
  }

  test("a join that already has an equi key is left untouched") {
    val a = intervals.withColumn("k", col("iv_id") % 10)
    val b = points.withColumn("k", col("pt_id") % 10)
    val j = RangeJoinRewrite.on(a.join(b, a("k") === b("k") && col("lo") <= col("x")), 32L)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("_graft_range_bucket"),
      s"rule fired on an equi join:\n$plan")
  }

  test("a width that is not positive is refused, naming it") {
    for (w <- Seq(0L, -4096L)) {
      val e = intercept[IllegalArgumentException](RangeJoinRewrite.on(theta(None), w))
      assert(e.getMessage.contains(s"got $w"), e.getMessage)
    }
  }
}
