package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** kmv_minima must deliver the k smallest DISTINCT values with
  * partition-count-independent results (merge = union-and-trim). */
class KmvMinimaSpec extends SparkSpec {

  test("kmv_minima returns the k smallest distinct values, sorted") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(5000)(rnd.nextInt(100000).toLong)
    val expected = vals.distinct.sorted.take(64)
    val got = vals.toDF("v").selectExpr("kmv_minima(v, 64) AS m")
      .collect()(0).getSeq[Long](0)
    assert(got == expected)
  }

  test("result is identical across partition counts (mergeable sketch)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(3000)(rnd.nextInt(5000).toLong).toDF("v")
    val one = df.coalesce(1).selectExpr("kmv_minima(v, 32) AS m").collect()(0).getSeq[Long](0)
    val many = df.repartition(17).selectExpr("kmv_minima(v, 32) AS m").collect()(0).getSeq[Long](0)
    assert(one == many)
  }

  test("fewer than k distinct values returns all of them; nulls skipped") {
    import spark.implicits._
    val df = Seq[Option[Long]](Some(5L), Some(3L), None, Some(5L), Some(9L))
      .toDF("v")
    val got = df.selectExpr("kmv_minima(v, 64) AS m").collect()(0).getSeq[Long](0)
    assert(got == Seq(3L, 5L, 9L))
  }

  test("grouped sketch bounds per-group state at k") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val df = Seq.fill(2000)((rnd.nextInt(4), rnd.nextInt(10000).toLong))
      .toDF("g", "v")
    val rows = df.groupBy($"g")
      .agg(expr("kmv_minima(v, 16)").as("m"), countDistinct($"v").as("nd"))
      .collect()
    rows.foreach { r =>
      val m = r.getSeq[Long](1)
      assert(m.size == math.min(16L, r.getLong(2)))
      assert(m == m.sorted && m.distinct.size == m.size)
    }
  }
}
