package graft.queries

import graft.SparkSpec
import graft.SparkSpec.assumeQueryFixtures
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions._

/** s16_runs_prescan: the Runs-tree metadata pre-scan on the real ROOT
  * input format (reference: stage1/preprocessor.py:200-229). The oracle
  * (literal replay by tools/gen_runs_fixture.py's independent decoder)
  * pins the VALUES; this spec pins the pieces the hash can't see — the
  * connector-level decode of the authored fixture, the file→partition
  * mapping, and the broadcast posture of the weight table. */
class RunsPrescanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val runsDir = s"${graft.queries.fixturesRoot}/runs"

  private def runsRows = spark.read.format("root-tree")
    .option("path", runsDir).load()
    .filter(col("tree") === "Runs")

  test("connector decodes the authored Runs baskets exactly (dyadic sums)") {
    // the fixture's branch values are dyadic doubles, so these sums are
    // exact regardless of partition/merge order (gen_runs_fixture.py)
    val sums = runsRows
      .filter(col("branch") === "genEventSumw")
      .groupBy(regexp_extract(col("file"),
        "([A-Za-z0-9_]+)_part[0-9]+\\.root$", 1).as("ds"))
      .agg(sum("value").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sums === Map("ggh_amcPS" -> 70368.875, "vbf_powheg" -> 10246.25))
    val cnts = runsRows
      .filter(col("branch") === "genEventCount")
      .agg(sum("value")).head().getDouble(0)
    assert(cnts === 690000.0)
  }

  test("one input partition per .root file (the NanoAOD parallelism unit)") {
    assert(runsRows.rdd.getNumPartitions === 3)
  }

  test("the weight table reaches the event chain via broadcast") {
    assumeQueryFixtures("s16_runs_prescan")
    val df = StageQueries.queries("s16_runs_prescan")(spark, sf("sf0.001"))
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan
    def bcasts(p: SparkPlan): Int =
      collectWithSubqueries(p) { case b: BroadcastExchangeLike => b }.size
    assert(bcasts(plan) >= 1,
      "expected the per-dataset weight table to ride a broadcast exchange")
  }

  test("flat-leaf entries are scalar (n == 1) and entry numbering is dense") {
    val e = runsRows.filter(col("branch") === "genEventSumw")
      .agg(max("n"), countDistinct("entry"), count(lit(1)))
      .head()
    assert(e.getInt(0) === 1)
    // 2+1+2 entries over three files; entry ids restart per file so the
    // distinct count is the max per-file entry count
    assert(e.getLong(2) === 5L)
  }
}
