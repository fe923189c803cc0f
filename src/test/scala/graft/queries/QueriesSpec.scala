package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.SparkSpec.{assumeAllQueryFixtures, assumeQueryFixtures}

/** One spec per registered operator: each query must run on sf0.001,
  * return a stable schema, and have a DuckDB oracle. The exact-value
  * check runs in the driver's DuckDB gate (tools/check_correctness.py);
  * this spec guards the Scala-side contract. */
class QueriesSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("every query has an oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleNames
    assert((q -- o).isEmpty, s"queries missing oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without query: ${o -- q}")
  }

  test("every oracle builds") {
    assumeAllQueryFixtures()
    assert(SparkEntry.oracleSql.keySet == SparkEntry.oracleNames)
  }

  test("entry returns a non-empty histogram") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("region", "bin", "value", "sumw2"))
  }

  test("m13 multiclass score is a probability and pred_class a valid argmax") {
    import org.apache.spark.sql.functions.{max, min}
    // validate via min/max aggregates, NOT a filter: a filter predicate
    // on mc_score/pred_class gets predicate-pushed below the projects,
    // inlining the full softmax+argmax expression 4x into one fused
    // filter+count stage — the one janino-64KB fallback the suite had
    // (each aggregate here references the output attributes once, so
    // the margins are computed once per row and codegen stays small)
    val df = MLQueries.queries("m13_multiclass_bdt")(spark, dir)
    val r = df.agg(min("mc_score"), max("mc_score"),
      min("pred_class"), max("pred_class")).head()
    assert(r.getFloat(0) >= 0.0f && r.getFloat(1) <= 1.0f,
      s"mc_score outside [0,1]: $r")
    assert(r.getInt(2) >= 0 && r.getInt(3) <= 5,
      s"pred_class outside 0..5: $r")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs on sf0.001 with stable schema") {
      assumeQueryFixtures(name)
      val df = fn(spark, dir)
      val schema = df.schema
      val n = df.count()
      assert(schema.fields.nonEmpty)
      // re-running yields the same count (determinism smoke)
      val n2 = fn(spark, dir).count()
      assert(n == n2, s"$name count unstable: $n vs $n2")
    }
  }
}
