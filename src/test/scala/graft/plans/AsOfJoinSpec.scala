package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The native as-of join operator: semantics (most recent prior-or-equal
  * right row per left row), tie-breaks, NULL fill, plan shape (custom
  * exec + co-partitioning exchanges), and AQE interplay. */
class AsOfJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.types._

  private val leftSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("lt", LongType, nullable = false),
    StructField("lid", LongType, nullable = false)))
  private val rightSchema = StructType(Seq(
    StructField("rk", LongType, nullable = false),
    StructField("rt", LongType, nullable = false),
    StructField("rid", LongType, nullable = false)))

  private def leftDf(rows: (Long, Long, Long)*) =
    spark.createDataFrame(
      rows.map { case (a, b, c) => Row(a, b, c) }.asJava, leftSchema)
  private def rightDf(rows: (Long, Long, Long)*) =
    spark.createDataFrame(
      rows.map { case (a, b, c) => Row(a, b, c) }.asJava, rightSchema)

  /** Run `body` with autoBroadcastJoinThreshold = `v`, restoring after. */
  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, prev)
  }

  /** Execute under BOTH physical forms (broadcast index probe and
    * shuffled merge walk) and require identical answers — every
    * semantic test in this spec covers both execs. */
  private def run(left: org.apache.spark.sql.DataFrame,
                  right: org.apache.spark.sql.DataFrame) = {
    def once() =
      AsOf.join(left, right, col("k"), col("lt"), col("rk"), col("rt"),
          Seq(col("rid")))
        .select(col("lid"), col("rid"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
    val broadcast = once() // small right side → BroadcastAsOfJoinExec
    val merged = withThreshold("-1")(once())
    assert(broadcast == merged,
      s"broadcast and merge-walk paths disagree: $broadcast vs $merged")
    merged
  }

  /** Tolerance variant of [[run]]: both physical forms must agree. */
  private def runTol(left: org.apache.spark.sql.DataFrame,
                     right: org.apache.spark.sql.DataFrame, tol: Long) = {
    def once() =
      AsOf.join(left, right, col("k"), col("lt"), col("rk"), col("rt"),
          Seq(col("rid")), tolerance = Some(tol))
        .select(col("lid"), col("rid"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
    val broadcast = once()
    val merged = withThreshold("-1")(once())
    assert(broadcast == merged,
      s"broadcast and merge-walk tolerance paths disagree: $broadcast vs $merged")
    merged
  }

  test("tolerance: matches inside the bound, NULL for staler ones") {
    val l = leftDf((1L, 100L, 1L), (1L, 200L, 2L), (2L, 500L, 3L))
    val r = rightDf((1L, 95L, 10L), (1L, 150L, 11L), (2L, 100L, 12L))
    // tol = 60: lid1 matches rid10 (gap 5), lid2 matches rid11 (gap 50),
    // lid3's only prior click is 400 stale -> NULL
    assert(runTol(l, r, 60L) == Map(1L -> 10L, 2L -> 11L, 3L -> -1L))
    // tol = 0: only exact-time matches survive
    val r0 = rightDf((1L, 100L, 20L), (1L, 150L, 21L), (2L, 100L, 22L))
    assert(runTol(l, r0, 0L) == Map(1L -> 20L, 2L -> -1L, 3L -> -1L))
  }

  test("tolerance: too-stale means NO match, not the next-older candidate") {
    // two candidates: a stale-but-latest one and an even older in-bound
    // one CANNOT exist (ts ordering) — but verify the operator does not
    // fall back to any older row once the latest eligible is too stale
    val l = leftDf((1L, 1000L, 1L))
    val r = rightDf((1L, 100L, 10L), (1L, 900L, 11L))
    assert(runTol(l, r, 50L) == Map(1L -> -1L))
    assert(runTol(l, r, 100L) == Map(1L -> 11L))
  }

  test("tolerance on a non-LONG ordering column fails at construction") {
    val l = leftDf((1L, 100L, 1L)).withColumn("lt", col("lt").cast("string"))
    val r = rightDf((1L, 95L, 10L)).withColumn("rt", col("rt").cast("string"))
    val e = intercept[IllegalArgumentException] {
      AsOf.join(l, r, col("k"), col("lt"), col("rk"), col("rt"),
        Seq(col("rid")), tolerance = Some(10L))
    }
    assert(e.getMessage.contains("LONG ordering"))
  }

  test("forward direction picks the earliest later-or-equal right row") {
    def once(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame,
             tol: Option[Long]) =
      AsOf.joinForward(l, r, col("k"), col("lt"), col("rk"), col("rt"),
          Seq(col("rid")), tolerance = tol)
        .select(col("lid"), col("rid"))
        .collect().map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
        .toMap
    val l = leftDf((1L, 100L, 1L), (1L, 250L, 2L), (2L, 500L, 3L))
    val r = rightDf((1L, 150L, 10L), (1L, 300L, 11L), (2L, 400L, 12L))
    // lid1 -> next at 150; lid2 -> next at 300; lid3: nothing later -> NULL
    val expect = Map(1L -> 10L, 2L -> 11L, 3L -> -1L)
    assert(once(l, r, None) === expect)
    assert(withThreshold("-1")(once(l, r, None)) === expect)
    // forward tolerance: within 60 only lid1 qualifies (gap 50 vs 50/100)
    val expectTol = Map(1L -> 10L, 2L -> 11L, 3L -> -1L)
    assert(once(l, r, Some(50L)) === expectTol)
    assert(once(l, r, Some(49L)) === Map(1L -> -1L, 2L -> -1L, 3L -> -1L))
  }

  test("picks the most recent prior-or-equal right row per key") {
    val l = leftDf((1L, 10L, 100L), (1L, 20L, 101L), (2L, 15L, 102L))
    val r = rightDf((1L, 5L, 200L), (1L, 10L, 201L), (1L, 18L, 202L),
      (2L, 14L, 203L), (2L, 16L, 204L))
    val got = run(l, r)
    assert(got === Map(100L -> 201L, // ts=10 matches the equal-ts row
      101L -> 202L, // ts=20: latest click at 18
      102L -> 203L)) // ts=15: 16 is in the future
  }

  test("left rows with no eligible right row get NULL right columns") {
    val l = leftDf((1L, 1L, 100L), (3L, 10L, 101L))
    val r = rightDf((1L, 5L, 200L), (2L, 1L, 201L))
    val got = run(l, r)
    assert(got === Map(100L -> -1L, 101L -> -1L))
  }

  test("equal-ts ties resolve to the greatest tie-break value") {
    val l = leftDf((7L, 50L, 100L))
    val r = rightDf((7L, 50L, 300L), (7L, 50L, 301L), (7L, 49L, 399L))
    assert(run(l, r) === Map(100L -> 301L))
  }

  test("empty right side yields all-NULL matches, empty left yields no rows") {
    val l = leftDf((1L, 1L, 100L))
    assert(run(l, rightDf()) === Map(100L -> -1L))
    assert(run(leftDf(), rightDf((1L, 1L, 200L))).isEmpty)
  }

  test("matches a window-computed as-of over many keys and partitions") {
    import spark.implicits._
    // deterministic pseudo-random workload across all 4 test partitions
    val l = (0L until 2000L).map(i =>
      (i % 97, (i * 31) % 1000, i)).toDF("k", "lt", "lid")
    val r = (0L until 3000L).map(i =>
      (i % 97, (i * 17) % 1000, i)).toDF("rk", "rt", "rid")
    val got = AsOf.join(l, r, col("k"), col("lt"), col("rk"), col("rt"),
        Seq(col("rid")))
      .select(col("lid"), col("rid"))
    // reference: plain SQL window over the union (the j10 trick), which
    // shares no code with the operator
    val expect = l.join(r, col("k") === col("rk") && col("rt") <= col("lt"), "left")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lid"))
          .orderBy(col("rt").desc, col("rid").desc)))
      .filter(col("rn") === 1 || col("rid").isNull)
      .select(col("lid"), col("rid"))
    assert(got.collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap ===
      expect.collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap)
  }

  test("mismatched key or ordering types fail at construction, not mid-job") {
    val l = leftDf((1L, 10L, 100L))
    val r = rightDf((1L, 5L, 200L)).withColumn("rk", col("rk").cast("int"))
    val e1 = intercept[IllegalArgumentException] {
      AsOf.join(l, r, col("k"), col("lt"), col("rk"), col("rt"), Nil)
    }
    assert(e1.getMessage.contains("key types must match"), e1.getMessage)
    val r2 = rightDf((1L, 5L, 200L)).withColumn("rt", col("rt").cast("double"))
    val e2 = intercept[IllegalArgumentException] {
      AsOf.join(l, r2, col("k"), col("lt"), col("rk"), col("rt"), Nil)
    }
    assert(e2.getMessage.contains("ordering types must match"), e2.getMessage)
  }

  test("resolution follows session case sensitivity and refuses ambiguity") {
    val l = leftDf((1L, 10L, 100L))
    val r = rightDf((1L, 5L, 200L))
    // default is case-insensitive: upper-case names must resolve
    val got = AsOf.join(l, r, col("K"), col("LT"), col("RK"), col("RT"),
        Seq(col("RID")))
      .select(col("lid"), col("rid")).collect()
    assert(got.map(x => (x.getLong(0), x.getLong(1))).toSeq === Seq((100L, 200L)))
    // duplicate names on one side are an error, not first-match-wins
    val dup = r.select(col("rk"), col("rt"), col("rid"), col("rt").as("RT"))
    val e = intercept[IllegalArgumentException] {
      AsOf.join(l, dup, col("k"), col("lt"), col("rk"), col("rt"), Nil)
    }
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
  }

  test("plans as AsOfJoinExec with hash exchanges on the keys, AQE on") {
    // AQE is on by Spark's default, which an explicit "false" default
    // here would read as off and then write back for every later suite
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try withThreshold("-1") {
      val l = leftDf((1L, 10L, 100L), (2L, 20L, 101L))
      val r = rightDf((1L, 5L, 200L), (2L, 25L, 201L))
      val df = AsOf.join(l, r, col("k"), col("lt"), col("rk"), col("rt"), Nil)
      val rows = df.collect() // force AQE final plan
      assert(rows.length === 2)
      val plan = df.queryExecution.executedPlan
      val execs = collectWithSubqueries(plan) { case e: AsOfJoinExec => e }
      assert(execs.nonEmpty, s"no AsOfJoinExec in:\n$plan")
      val planStr = plan.toString
      assert(planStr.contains("hashpartitioning(k"), s"left not hash-partitioned:\n$planStr")
      assert(planStr.contains("hashpartitioning(rk"), s"right not hash-partitioned:\n$planStr")
    } finally prev.fold(spark.conf.unset("spark.sql.adaptive.enabled"))(
      spark.conf.set("spark.sql.adaptive.enabled", _))
  }

  test("AsOfJoinPruning pushes column pruning through the as-of node to the scans") {
    // as-of over two wide parquet tables, selecting one column per
    // side: without the custom rule the node is a pruning barrier and
    // every column of both tables is scanned
    val li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .select(col("l_orderkey").as("k"), col("l_linenumber").cast("long").as("lt"),
        col("l_extendedprice"), col("l_quantity"), col("l_discount"),
        col("l_tax"), col("l_returnflag"))
    val o = spark.read.parquet(sf("sf0.001") + "/orders.parquet")
      .select(col("o_orderkey").as("rk"), lit(0L).as("rt"),
        col("o_totalprice"), col("o_orderstatus"), col("o_orderpriority"))
    val df = AsOf.join(li, o, col("k"), col("lt"), col("rk"), col("rt"), Nil)
      .select(col("l_extendedprice"), col("o_totalprice"))
    assert(df.count() > 0)
    val scans = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(!scans.contains("l_quantity") && !scans.contains("l_returnflag"),
      s"lineitem scan not pruned through the as-of node:\n$scans")
    assert(!scans.contains("o_orderstatus") && !scans.contains("o_orderpriority"),
      s"orders scan not pruned through the as-of node:\n$scans")
    assert(scans.contains("l_extendedprice") && scans.contains("o_totalprice"))
  }

  test("small right side selects the broadcast exec: no exchange, no sort on the left") {
    val l = leftDf((1L, 10L, 100L), (2L, 20L, 101L), (3L, 5L, 102L))
    val r = rightDf((1L, 5L, 200L), (2L, 25L, 201L))
    val df = AsOf.join(l, r, col("k"), col("lt"), col("rk"), col("rt"), Nil)
    val rows = df.collect()
    assert(rows.length === 3)
    val plan = df.queryExecution.executedPlan
    val execs = collectWithSubqueries(plan) { case e: BroadcastAsOfJoinExec => e }
    assert(execs.nonEmpty, s"no BroadcastAsOfJoinExec in:\n$plan")
    val planStr = plan.toString
    assert(!planStr.contains("Exchange"), s"broadcast as-of still exchanges:\n$planStr")
    assert(!planStr.contains("Sort "), s"broadcast as-of still sorts:\n$planStr")
  }
}
