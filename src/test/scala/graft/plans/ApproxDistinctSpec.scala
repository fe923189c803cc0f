package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ApproxDistinctRewrite: opt-in rewrite of exact single-column
  * COUNT(DISTINCT) to the HLL register aggregate + estimate. Exact
  * without `on`; accurate within the p = 12 error envelope with it;
  * out of scope shapes (multi-column distinct) stay exact. */
class ApproxDistinctSpec extends SparkSpec {

  private def data: DataFrame = {
    val s = spark
    import s.implicits._
    (1L to 50000L).map(i => (i % 5, i % 3000)).toDF("g", "v")
  }

  test("count(distinct) rewrites to the HLL aggregate and stays within 10%") {
    val approx = {
      val out = ApproxDistinctRewrite.on(
        data.groupBy(col("g")).agg(countDistinct(col("v")).as("nd")))
      val plan = out.queryExecution.optimizedPlan.toString
      assert(plan.contains("hll_registers"), s"rewrite did not fire:\n$plan")
      assert(plan.contains("hll_estimate"), s"no estimate fold:\n$plan")
      out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val exact = data.groupBy(col("g")).agg(countDistinct(col("v")).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (g, n) =>
      val est = approx(g)
      assert(math.abs(est - n).toDouble / n < 0.10,
        s"group $g: estimate $est vs exact $n")
    }
  }

  test("count(distinct) stays exact without the rewrite") {
    val out = data.groupBy(col("g")).agg(countDistinct(col("v")).as("nd"))
    assert(!out.queryExecution.optimizedPlan.toString.contains("hll_registers"))
  }

  test("NULL inputs do not register phantom distinct elements") {
    // exact COUNT(DISTINCT) ignores NULLs; Murmur3Hash(null) returns the
    // seed, so an unguarded rewrite registers a phantom element. On a
    // 2-distinct + NULLs column the estimate is exact at p=12, so any
    // off-by-one is the phantom.
    val s = spark
    import s.implicits._
    val df = Seq[(Long, java.lang.Long)](
      (0L, 1L), (0L, 2L), (0L, null), (0L, null),
      (1L, null), (1L, null), (1L, null)
    ).toDF("g", "v")
    val approx = {
      val out = ApproxDistinctRewrite.on(
        df.groupBy(col("g")).agg(countDistinct(col("v")).as("nd")))
      assert(out.queryExecution.optimizedPlan.toString.contains("hll_registers"))
      out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(approx(0L) == 2L, s"all-null group contaminated: ${approx(0L)}")
    assert(approx(1L) == 0L, s"all-null group must estimate 0: ${approx(1L)}")
  }

  test("multi-column distinct counts are out of scope and stay exact") {
    val out = ApproxDistinctRewrite.on(data.groupBy(col("g"))
      .agg(countDistinct(col("v"), col("g")).as("nd")))
    assert(!out.queryExecution.optimizedPlan.toString.contains("hll_registers"))
    // and the exact value is returned
    assert(out.collect().forall(_.getLong(1) > 0))
  }
}
