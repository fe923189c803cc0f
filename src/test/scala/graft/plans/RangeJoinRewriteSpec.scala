package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RangeJoinRewrite: the theta join `lo <= x AND x < hi` must plan as
  * a bucketed hash join (Generate + equi-key) when the width conf is
  * set, stay a nested-loop join when unset, and return IDENTICAL rows
  * either way (the residual predicate makes the rewrite lossless for
  * any width). */
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

  private def theta: DataFrame =
    intervals.join(points, col("lo") <= col("x") && col("x") < col("hi"))
      .select(col("iv_id"), col("pt_id"))

  /** Runs `body` with the width conf set to `width`, or unset. The
    * rule itself is the one GraftExtensions injected into the session,
    * as in j14. */
  private def withRule[T](width: Option[Long])(body: => T): T = {
    width.foreach(w =>
      spark.conf.set(RangeJoinRewrite.WidthConf, w.toString))
    try body finally spark.conf.unset(RangeJoinRewrite.WidthConf)
  }

  test("without the width conf the theta join stays nested-loop") {
    withRule(None) {
      val plan = theta.queryExecution.executedPlan.toString
      assert(plan.contains("NestedLoopJoin") || plan.contains("CartesianProduct"),
        s"expected a nested-loop plan, got:\n$plan")
    }
  }

  test("with the width conf the join becomes Generate + hash join") {
    withRule(Some(32L)) {
      val plan = theta.queryExecution.executedPlan.toString
      assert(plan.contains("Generate"), s"no Generate in:\n$plan")
      assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"still nested-loop:\n$plan")
      assert(plan.contains("_graft_range_bucket"), s"no bucket key in:\n$plan")
    }
  }

  test("rewrite is lossless: identical rows for several widths") {
    val want = withRule(None) {
      theta.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(want.nonEmpty)
    for (w <- Seq(1L, 8L, 32L, 1024L)) {
      val got = withRule(Some(w)) {
        theta.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      assert(got == want, s"width $w diverged: ${got.size} vs ${want.size} rows")
    }
  }

  test("a join that already has an equi key is left untouched") {
    withRule(Some(32L)) {
      val a = intervals.withColumn("k", col("iv_id") % 10)
      val b = points.withColumn("k", col("pt_id") % 10)
      val j = a.join(b, a("k") === b("k") && col("lo") <= col("x"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("_graft_range_bucket"),
        s"rule fired on an equi join:\n$plan")
    }
  }
}
