package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract tests for the bounded top-k-per-group aggregate: equivalence
  * with the window form it replaces, partition invariance (the property
  * that makes map-side partial merge legal), serialization round-trip
  * through real shuffles, and the plan shape that is the point of the
  * operator (ObjectHashAggregate partial, no full-data sort). */
class TopKPairsSpec extends SparkSpec {

  import spark.implicits._

  test("topk_max matches the row_number window form on distinct pairs") {
    val df = Seq(
      (1L, 50L, 101L), (1L, 70L, 102L), (1L, 70L, 103L), (1L, 10L, 104L),
      (2L, 5L, 201L), (2L, 5L, 202L),
      (3L, 9L, 301L)
    ).toDF("g", "v", "id")
    val got = df.groupBy($"g")
      .agg(expr("topk_max(v, id, 2)").as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", ($"pos" + 1).cast("long").as("rank"),
        $"col.sort".as("v"), $"col.payload".as("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expect = Set(
      (1L, 1L, 70L, 102L), (1L, 2L, 70L, 103L),
      (2L, 1L, 5L, 201L), (2L, 2L, 5L, 202L),
      (3L, 1L, 9L, 301L))
    assert(got == expect)
  }

  test("topk_max is partition-invariant and survives shuffled merges") {
    val base = spark.range(0, 5000)
      .select(($"id" % 7).as("g"), (($"id" * 131) % 1000).as("v"), $"id")
    val expected = base.repartition(1)
      .groupBy($"g").agg(expr("topk_max(v, id, 5)").as("top"))
      .select($"g", $"top".cast("string")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(2, 4, 16).foreach { parts =>
      val got = base.repartition(parts, $"id")
        .groupBy($"g").agg(expr("topk_max(v, id, 5)").as("top"))
        .select($"g", $"top".cast("string")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected, s"partitioning $parts changed the result")
    }
  }

  test("topk_max dedups identical pairs and ignores nulls") {
    val df = Seq(
      (1L, Some(10L), Some(1L)), (1L, Some(10L), Some(1L)),
      (1L, None, Some(2L)), (1L, Some(3L), None)
    ).toDF("g", "v", "id")
    val got = df.groupBy($"g").agg(expr("topk_max(v, id, 3)").as("top"))
      .select(size($"top")).collect()(0).getInt(0)
    assert(got == 1, "duplicate pair must collapse; null sort/payload skipped")
  }

  test("a28 plans as a partial ObjectHashAggregate with no full-data sort") {
    val df = graft.queries.RelationalQueries
      .queries("a28_native_topk")(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"no object hash agg:\n$plan")
    assert(plan.contains("partial_topk_max"), s"no partial agg:\n$plan")
    // the only Sort allowed is the final presentation ORDER BY above the
    // aggregate — nothing below the exchange may sort the full input
    val belowAgg = plan.substring(plan.indexOf("partial_topk_max"))
    assert(!belowAgg.contains("Window"), s"window leaked below the agg:\n$plan")
    assert(!belowAgg.contains("Sort"), s"sort below the partial agg:\n$plan")
  }
}
