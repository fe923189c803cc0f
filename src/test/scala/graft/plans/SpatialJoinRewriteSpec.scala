package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SpatialJoinRewrite: the naive `within_radius` theta self-join must
  * (a) plan as a nested-loop join without `on`, (b) become a
  * cell-keyed HASH join with a 9-cell Generate after it, and (c) return
  * the identical row set either way — losslessness is the contract that
  * lets j19's oracle stay the naive SQL. */
class SpatialJoinRewriteSpec extends SparkSpec {

  private def pts: DataFrame = {
    val s = spark
    import s.implicits._
    // deterministic scatter incl. points straddling cell boundaries
    (1L to 4000L).map { i =>
      (i, ((i * 2654435761L) % 2147483647L % 1000L).toDouble / 10.0,
        (((i * 31 + 7) * 2654435761L) % 2147483647L % 1000L).toDouble / 10.0)
    }.toDF("id", "x", "y")
  }

  private def naiveJoin: DataFrame = {
    val a = pts.select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"))
    val b = pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"))
    a.join(b, expr("within_radius(ax, ay, bx, by, 1.5D)") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
  }

  test("rule off: nested loop; rule on: cell equi-join with Generate") {
    val off = naiveJoin.queryExecution.executedPlan.toString
    assert(off.contains("NestedLoop") || off.contains("CartesianProduct"),
      s"expected a nested-loop baseline:\n$off")
    val on = SpatialJoinRewrite.on(naiveJoin).queryExecution.executedPlan.toString
    assert(!on.contains("NestedLoop") && !on.contains("CartesianProduct"),
      s"rule did not fire:\n$on")
    assert(on.contains("Generate"), s"no 9-cell explode:\n$on")
    assert(on.contains("HashJoin") || on.contains("SortMergeJoin"),
      s"no keyed join:\n$on")
  }

  test("rewrite is lossless: identical pairs with and without the rule") {
    val expected = naiveJoin.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val got = SpatialJoinRewrite.on(naiveJoin).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.length == expected.length,
      s"pair count ${got.length} vs ${expected.length}")
    assert(got.sameElements(expected), "pair sets differ")
    assert(expected.nonEmpty, "degenerate fixture: no pairs at all")
  }

  test("rule leaves joins with an existing equi-key alone") {
    val a = pts.select(col("id").as("a_id"), col("x").as("ax"),
      col("y").as("ay"), (col("id") % 7).as("ka"))
    val b = pts.select(col("id").as("b_id"), col("x").as("bx"),
      col("y").as("by"), (col("id") % 7).as("kb"))
    val plan = SpatialJoinRewrite.on(a.join(b, col("ka") === col("kb") &&
        expr("within_radius(ax, ay, bx, by, 1.5D)")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"rule fired despite existing equi-key:\n$plan")
  }

  test("a foldable radius that is not yet a literal is rewritten too") {
    val a = pts.select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"))
    val b = pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"))
    val cast = a.join(b, expr("within_radius(ax, ay, bx, by, CAST(1.5 AS DOUBLE))") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    val rewritten = SpatialJoinRewrite.on(cast)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), s"foldable radius not rewritten:\n$plan")
    val pairs = (df: DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(rewritten) == pairs(naiveJoin))
  }

  test("a radius predicate written as a .where above the join is left as written") {
    val a = pts.select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"))
    val b = pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"))
    val plan = SpatialJoinRewrite.on(a.join(b)
        .where(expr("within_radius(ax, ay, bx, by, 1.5D)")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"rewrite saw a .where predicate:\n$plan")
  }

  test("within_radius evaluates the exact arithmetic incl. nulls") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0.0, 0.0, 1.0, 1.0),   // dist^2 = 2 <= 2.25
      (0.0, 0.0, 1.5, 0.0),   // exactly r -> true
      (0.0, 0.0, 1.6, 0.0)    // outside
    ).toDF("ax", "ay", "bx", "by")
    val got = df.select(expr("within_radius(ax, ay, bx, by, 1.5D)").as("v"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(got == Seq(true, true, false))
    val withNull = df.withColumn("ax", when(col("bx") === 1.6, lit(null)
        .cast("double")).otherwise(col("ax")))
      .select(expr("within_radius(ax, ay, bx, by, 1.5D)").as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0))).toSeq
    assert(withNull == Seq(Some(true), Some(true), None))
  }

  test("NULL radius yields NULL identically under codegen and interpreted eval") {
    // regression for the round-6 advice: a foldable NULL radius must not
    // diverge by execution path (interpreted eval used to unbox null to
    // 0.0 while codegen substituted the literal's default). Evaluate the
    // same expression through a plain projection (whole-stage codegen)
    // and through a FILTER (which forces the predicate through both
    // paths during constant-folding + execution): both must be NULL/no-row.
    val s = spark
    import s.implicits._
    val df = Seq((0.0, 0.0, 0.1, 0.1)).toDF("ax", "ay", "bx", "by")
    val proj = df.select(
      expr("within_radius(ax, ay, bx, by, CAST(NULL AS DOUBLE))").as("v"))
      .collect()
    assert(proj.length == 1 && proj.head.isNullAt(0),
      "codegen path must return NULL for a NULL radius")
    val filtered = df.filter(
      expr("within_radius(ax, ay, bx, by, CAST(NULL AS DOUBLE))"))
    assert(filtered.count() == 0,
      "a NULL predicate must drop the row, not treat radius as 0.0")
  }
}
