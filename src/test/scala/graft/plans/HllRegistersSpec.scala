package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** HllRegisters semantics: partition-layout invariance (the mergeable-
  * sketch contract) and estimator accuracy against exact counts. */
class HllRegistersSpec extends SparkSpec {

  private def hashed = {
    val s = spark
    import s.implicits._
    (1L to 20000L).map(i => (i % 7, (i * 2654435761L) % 2147483647L))
      .toDF("g", "hv")
  }

  test("registers are identical whatever the partitioning (merge = max)") {
    val one = hashed.repartition(1).groupBy("g")
      .agg(expr("hll_registers(hv, 9)").as("regs")).orderBy("g").collect()
    val many = hashed.repartition(16).groupBy("g")
      .agg(expr("hll_registers(hv, 9)").as("regs")).orderBy("g").collect()
    assert(one.length == 7)
    one.zip(many).foreach { case (a, b) =>
      assert(a.getSeq[Int](1) == b.getSeq[Int](1))
    }
  }

  test("sparse wire encoding round-trips and merges with dense (HLL++)") {
    val agg = HllRegisters(org.apache.spark.sql.catalyst.expressions.Literal(0L), 9)
    val m = 512
    // low occupancy -> sparse tag, high occupancy -> dense tag
    val sparseBuf = new Array[Byte](m)
    sparseBuf(3) = 5; sparseBuf(400) = 2; sparseBuf(511) = 17
    val denseBuf = Array.tabulate[Byte](m)(i => ((i % 3) + 1).toByte)
    val sw = agg.serialize(sparseBuf)
    val dw = agg.serialize(denseBuf)
    assert(sw(0) == 1 && sw.length == 1 + 3 * 3, "expected sparse tag + 3 entries")
    assert(dw(0) == 0 && dw.length == 1 + m, "expected dense tag + m bytes")
    assert(agg.deserialize(sw).toSeq == sparseBuf.toSeq)
    assert(agg.deserialize(dw).toSeq == denseBuf.toSeq)
    // merge across encodings (what the exchange does): element-wise max
    val merged = agg.merge(agg.deserialize(sw), agg.deserialize(dw))
    (0 until m).foreach { i =>
      assert(merged(i) == math.max(sparseBuf(i), denseBuf(i)),
        s"merge mismatch at $i")
    }
    // boundary: occupancy exactly m/4 ships dense (>= threshold)
    val atQuarter = new Array[Byte](m)
    (0 until m / 4).foreach(i => atQuarter(i * 4) = 1)
    assert(agg.serialize(atQuarter)(0) == 0, "m/4 occupancy must be dense")
    // one below the threshold ships sparse
    val below = new Array[Byte](m)
    (0 until m / 4 - 1).foreach(i => below(i * 4) = 1)
    assert(agg.serialize(below)(0) == 1, "sub-m/4 occupancy must be sparse")
  }

  test("low-cardinality groups exercise the sparse path end-to-end") {
    // 7 groups x <=20 distinct values: every partial buffer is far below
    // m/4 occupancy, so ALL exchange traffic uses the sparse encoding;
    // the register vectors must still be partition-layout invariant
    val s = spark
    import s.implicits._
    val tiny = (1L to 140L).map(i => (i % 7, ((i % 20) * 2654435761L) % 2147483647L))
      .toDF("g", "hv")
    val one = tiny.repartition(1).groupBy("g")
      .agg(expr("hll_registers(hv, 9)").as("regs")).orderBy("g").collect()
    val many = tiny.repartition(16).groupBy("g")
      .agg(expr("hll_registers(hv, 9)").as("regs")).orderBy("g").collect()
    one.zip(many).foreach { case (a, b) =>
      assert(a.getSeq[Int](1) == b.getSeq[Int](1))
    }
  }

  test("estimate lands within 10% of the exact distinct count") {
    val m = 512.0
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val rows = hashed.groupBy("g")
      .agg(expr("hll_registers(hv, 9)").as("regs"),
        countDistinct(col("hv")).as("exact"))
      .withColumn("est",
        expr(s"$alpha * ${m * m} / aggregate(regs, CAST(0 AS DOUBLE), " +
          "(acc, r) -> acc + power(2.0D, -r))"))
      .collect()
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact").toDouble
      val est = r.getAs[Double]("est")
      assert(math.abs(est - exact) / exact < 0.10,
        s"group ${r.get(0)}: est $est vs exact $exact")
    }
  }
}
