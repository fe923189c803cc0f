package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit, raise_error, when}

/** `Verify.writeQuery` leaves no output for a query that fails: neither
  * what an earlier run wrote under the query's name nor a partial write
  * of its own. */
class VerifySpec extends SparkSpec {

  test("a failed query leaves no directory; a working one replaces the old output") {
    val out = Files.createTempDirectory("graft_verify")
    val stale = out.resolve("q/part-00000.parquet")
    Files.createDirectories(stale.getParent)
    Files.writeString(stale, "from an earlier run")

    val e = intercept[IllegalStateException](Verify.writeQuery(spark, sf("sf0.001"),
      out.toString, "q", (_, _) => throw new IllegalStateException("builder failed")))
    assert(e.getMessage == "builder failed")
    assert(!Files.exists(out.resolve("q")), "the builder's failure left a directory")

    // a plan that builds but fails while it runs
    intercept[Exception](Verify.writeQuery(spark, sf("sf0.001"), out.toString, "q",
      (s, _) => s.range(4).select(
        when(col("id") === 2, raise_error(lit("row 2 failed"))).otherwise(col("id")).as("id"))))
    assert(!Files.exists(out.resolve("q")), "the failed write left a directory")

    Verify.writeQuery(spark, sf("sf0.001"), out.toString, "q", (s, _) => s.range(3).toDF("id"))
    assert(spark.read.parquet(out.resolve("q").toString).count() == 3)
  }
}
