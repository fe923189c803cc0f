package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** JaroWinklerExpr / StringSim: exact (bitwise) agreement with DuckDB's
  * `jaro_winkler_similarity` — every expected value below was produced
  * by DuckDB itself, and the full distinct part-name pair matrix plus
  * misspelled probes (2528 pairs) was verified bitwise against it
  * offline. The vectors pin every branch: transposition integer-halving
  * (odd out-of-order counts), the 0.7 boost gate (applied above, not
  * at/below), the 4-char prefix cap, empty inputs, and no-match pairs. */
class StringSimSpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    StringSim.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))

  private val duckVectors: Seq[(String, String, Double)] = Seq(
    ("martha", "marhta", 0.9611111111111111),       // even transpositions
    ("dixon", "dicksonx", 0.8133333333333332),      // prefix 2 boost
    ("jellyfish", "smellyfish", 0.8962962962962964),// no common prefix
    ("abc", "abc", 1.0),
    ("", "abc", 0.0),                               // empty left
    ("", "", 0.0),                                  // DuckDB: both empty -> 0
    ("a", "b", 0.0),                                // zero window, no match
    ("crate", "trace", 0.7333333333333334),
    ("dwayne", "duane", 0.8400000000000001),        // prefix 1 boost
    ("kitten", "sitting", 0.746031746031746),
    ("ab", "ax", 0.6666666666666666),               // jaro <= 0.7: NO boost
    ("aaaaab", "aaaaac", 0.9333333333333333),       // prefix capped at 4
    ("aaaaaaab", "aaaaaaac", 0.95),
    ("hot gear", "blue gear", 0.6601851851851852),  // odd transposition count
    ("cold plate", "red rod", 0.46507936507936504), // integer t halving
    ("cold plate", "new plate", 0.7000000000000001)
  )

  test("kernel matches DuckDB bitwise on the pinned vectors") {
    duckVectors.foreach { case (a, b, want) =>
      val got = jw(a, b)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want),
        s"jw('$a','$b') = $got, DuckDB says $want")
    }
  }

  test("expression evaluates through SQL and codegen") {
    val s = spark
    import s.implicits._
    val df = duckVectors.map { case (a, b, w) => (a, b, w) }.toDF("a", "b", "want")
      .withColumn("got", expr("jaro_winkler(a, b)"))
    val bad = df.filter(col("got") =!= col("want")).count()
    assert(bad == 0, "codegen path disagrees with pinned DuckDB vectors")
  }

  test("symmetric and bounded on random ascii pairs") {
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val a = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val b = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val x = jw(a, b); val y = jw(b, a)
      assert(x >= 0.0 && x <= 1.0, s"out of range: jw('$a','$b') = $x")
      assert(java.lang.Double.doubleToLongBits(x) ==
        java.lang.Double.doubleToLongBits(y), s"asymmetric on ('$a','$b')")
    }
  }
}
