package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Edge-case contracts of the native expressions: the degenerate
  * inputs (empty strings, empty groups, sub-window texts) that a
  * 100 TB corpus WILL contain must behave exactly like the HOF/SQL
  * spellings they replace. */
class NativeEdgeCasesSpec extends SparkSpec {

  private def docs(texts: String*) = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  test("cdc_bounds: empty and sub-window strings yield [0, len]") {
    val r = docs("", "abc", "exactly8")
      .select(col("id"), expr("cdc_bounds(text, 8, 32)").as("b"))
      .orderBy("id").collect()
    assert(r(0).getSeq[Long](1) == Seq(0L, 0L))
    assert(r(1).getSeq[Long](1) == Seq(0L, 3L)) // shorter than the window
    val b2 = r(2).getSeq[Long](1)
    assert(b2.head == 0L && b2.last == 8L) // window-sized: 1 test position
  }

  test("cdc_bounds matches the HOF spelling on real text") {
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet").limit(50)
    val P = 2147483647L
    val horner = (0 until 8).map(k => s"ascii(substr(text, i - 7 + $k, 1))")
      .foldLeft("CAST(0 AS BIGINT)")((acc, ch) => s"($acc * 31 + $ch)")
    val hof = s"concat(array(0L), filter(transform(sequence(8, length(text)), " +
      s"i -> IF(((($horner) % $P) * 2654435761) % $P % 32 = 0, CAST(i AS LONG), -1L)), " +
      "i -> i > 0), array(CAST(length(text) AS LONG)))"
    val diff = d.select(expr("cdc_bounds(text, 8, 32)").as("a"), expr(hof).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
  }

  test("hll_registers: empty group yields all-zero registers") {
    val s = spark
    import s.implicits._
    val r = Seq((1L, 42L)).toDF("g", "hv")
      .filter(col("g") === 999L) // empty
      .agg(expr("hll_registers(hv, 4)").as("regs"))
      .collect()(0).getSeq[Int](0)
    assert(r.length == 16 && r.forall(_ == 0))
  }

  test("hll_estimate: all-zero registers estimate zero (linear counting)") {
    // V = m zeros -> m·ln(m/m) = 0: an empty sketch reads as 0 distinct
    val r = spark.sql(
      "SELECT hll_estimate(array_repeat(0, 512)) AS est").collect()(0)
    assert(r.getDouble(0) == 0.0, s"empty sketch estimated ${r.getDouble(0)}")
  }

  test("hll_estimate agrees with the SQL estimator fold on real registers") {
    val s = spark
    import s.implicits._
    val df = (1L to 5000L).map(i => (i % 3, (i * 2654435761L) % 2147483647L))
      .toDF("g", "hv")
      .groupBy("g").agg(expr("hll_registers(hv, 9)").as("regs"))
    val m = 512.0
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val sqlEst = s"""CASE WHEN ($alpha * ${m * m} / aggregate(regs,
        CAST(0 AS DOUBLE), (acc, r) -> acc + power(2.0D, -r))) <= ${2.5 * m}
        AND size(filter(regs, r -> r = 0)) > 0
       THEN $m * ln($m / size(filter(regs, r -> r = 0)))
       ELSE $alpha * ${m * m} / aggregate(regs,
        CAST(0 AS DOUBLE), (acc, r) -> acc + power(2.0D, -r)) END"""
    val rows = df.select(expr("hll_estimate(regs)").as("native"),
      expr(sqlEst).as("hof")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"native ${r.getDouble(0)} vs HOF ${r.getDouble(1)}")
    }
  }

  test("shingle_set: sub-k strings yield an empty array") {
    val r = docs("", "ab", "abcd")
      .select(expr("shingle_set(text, 5)").as("sh")).collect()
    assert(r.forall(_.getSeq[Int](0).isEmpty))
  }

  test("minhash_sig of an empty shingle set is NULL (documented contract)") {
    // degenerate docs carry no signature: the expression returns NULL
    // rather than a fake all-minima row, and the dedup queries guard
    // empties upstream (d07's empty-shingle filter). Pin the contract
    // so a change shows up here, not as a silent band-join behavior
    // shift.
    val row = docs("ab")
      .select(expr("minhash_sig(shingle_set(text, 5), 4)").as("mh"))
      .collect()(0)
    assert(row.isNullAt(0))
  }
}
