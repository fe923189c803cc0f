package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.GenSource

/** Queries exercising graft's native Catalyst functions (delta_r with
  * doGenCode, the single-pass TypedImperativeAggregate histogram),
  * oracle-checked against the composed-expression SQL they replace.
  * The builders call the functions from SQL text, so they assume a
  * session that has them: one built by `GraftSession` (or with
  * `spark.sql.extensions=graft.plans.GraftExtensions`), or one that
  * `GraftSession.attach` was called on.
  */
object CatalystQueries extends QueryFamily {

  // ---- c01: native single-pass histogram ---------------------------------
  // Same result as the groupBy(width_bucket) form (a10) but the shuffle
  // carries ONE row per group holding the whole bin vector.
  private def c01(s: SparkSession, dir: String): DataFrame = {
    rd(s, dir, "orders").createOrReplaceTempView("c01_orders")
    s.sql(
      """SELECT bin, CAST(value AS FLOAT) AS value, CAST(sumw2 AS FLOAT) AS sumw2
        |FROM (
        | SELECT weighted_histogram(o_totalprice % 160.0,
        |   1.0 + o_totalprice / 1.0e6, 0.0, 160.0, 40) AS h
        | FROM c01_orders) LATERAL VIEW inline(h) t AS bin, value, sumw2
        |WHERE value != 0.0 OR sumw2 != 0.0
        |ORDER BY bin""".stripMargin)
  }
  private val c01Sql = {
    val b = graft.agg.Histogrammer.bucketSql("(o_totalprice % 160.0)", 0.0, 160.0, 40)
    s"""SELECT $b AS bin,
       | CAST(SUM(1.0 + o_totalprice / 1.0e6) AS REAL) AS value,
       | CAST(SUM((1.0 + o_totalprice / 1.0e6) * (1.0 + o_totalprice / 1.0e6)) AS REAL) AS sumw2
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- c02: native codegen delta_r ---------------------------------------
  private def c02(s: SparkSession, dir: String): DataFrame = {
    rd(s, dir, "events").createOrReplaceTempView("c02_events")
    s.sql(
      """SELECT event_id,
        | CAST(delta_r((event_id % 100) / 25.0 - 2.0, (event_id % 63) / 10.0 - 3.1,
        |              (user_id % 80) / 20.0 - 2.0, (user_id % 63) / 10.0 - 3.1) AS FLOAT) AS dr
        |FROM c02_events ORDER BY event_id""".stripMargin)
  }
  private val c02Sql = {
    val de = "ABS(((event_id % 100) / 25.0 - 2.0) - ((user_id % 80) / 20.0 - 2.0))"
    val dp = "ABS(((((((event_id % 63) / 10.0 - 3.1) - ((user_id % 63) / 10.0 - 3.1)) + PI()) % (2.0 * PI()) + (2.0 * PI())) % (2.0 * PI())) - PI())"
    s"""SELECT event_id,
       | CAST(SQRT(($de) * ($de) + ($dp) * ($dp)) AS REAL) AS dr
       |FROM events ORDER BY event_id""".stripMargin
  }

  // ---- c04: DataSource V2 generator scan ---------------------------------
  // A full custom connector (sources/GenSource.scala): the id-range
  // predicate is pushed into the scan and prunes whole input partitions
  // at planning time; only (bucket, v) are generated per row (column
  // pruning). The oracle rebuilds the identical table from range(n) —
  // v is an integer multiple of 2^-31, so SUM(v) is bit-exact in any
  // aggregation order.
  private val c04Rows = 200000L
  private val c04Lo = 50000L
  private val c04Hi = 150000L
  private def c04(s: SparkSession, dir: String): DataFrame = {
    s.read.format("graft.sources.GenSource")
      .option("rows", c04Rows).option("slices", 16).load()
      .filter(col("id") >= c04Lo && col("id") < c04Hi)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
        min(col("tag")).as("min_tag"))
      .orderBy(col("bucket"))
  }
  private val c04Sql =
    s"""SELECT ((range * ${GenSource.A} + ${GenSource.C}) % ${GenSource.M}) % 50 AS bucket,
       | COUNT(*) AS n,
       | SUM(((range * ${GenSource.A} + ${GenSource.C}) % ${GenSource.M})
       |     / ${GenSource.M}.0) AS sum_v,
       | MIN('t' || (((range * ${GenSource.A} + ${GenSource.C}) % ${GenSource.M}) % 7)) AS min_tag
       |FROM range($c04Rows)
       |WHERE range >= $c04Lo AND range < $c04Hi
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c01_native_histogram" -> (c01 _),
    "c02_native_delta_r" -> (c02 _),
    "c04_gen_source" -> (c04 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "c01_native_histogram" -> c01Sql,
    "c02_native_delta_r" -> c02Sql,
    "c04_gen_source" -> c04Sql
  ).view
}
