package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.physics.Kinematics
import graft.agg.Histogrammer

/** The injected native functions must agree with the composed-expression
  * baselines they accelerate. */
class ExtensionsSpec extends SparkSpec {

  test("GraftSession.attach registers all native functions on an existing session") {
    graft.GraftSession.attach(spark)
    Seq("delta_r", "weighted_histogram", "sorted_intersect_count", "array_dot",
        "minhash_sig")
      .foreach(f => assert(spark.catalog.functionExists(f), s"$f missing"))
  }

  test("minhash_sig matches the composed array_min(transform(...)) form") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = Seq.fill(200)(Seq.fill(50 + rnd.nextInt(100))(rnd.nextInt(1 << 25)))
      .toDF("sh")
    val P = 2147483647L
    val composed = df.selectExpr((0 until 12).map { k =>
      s"array_min(transform(sh, w -> ((${2 * k + 3} * ((w * 2654435761) % $P)" +
        s" + ${7919 * k + 1}) % $P))) AS m$k"
    }: _*).collect()
    val native = df.selectExpr("minhash_sig(sh, 12) AS sig").collect()
    composed.zip(native).foreach { case (c, n) =>
      val sig = n.getSeq[Long](0)
      (0 until 12).foreach(k => assert(sig(k) == c.getLong(k)))
    }
  }

  test("shingle_set matches the composed sort(distinct(transform)) form") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val words = Seq("the", "query", "table", "spark", "row", "data", "a")
    val df = (Seq("", "ab", "abcd", "abcde") ++
      Seq.fill(200)(Seq.fill(8 + rnd.nextInt(40))(words(rnd.nextInt(words.size)))
        .mkString(" "))).toDF("text")
    val h = (0 until 5).map(k => s"ascii(substring(text, i + $k, 1))")
      .foldLeft("CAST(0 AS BIGINT)")((acc, ch) => s"($acc * 31 + $ch)")
    val composed = df.filter(length(col("text")) >= 5).selectExpr(
      s"array_sort(array_distinct(transform(sequence(1, length(text) - 4), i -> CAST($h AS INT)))) AS sh")
      .collect().map(_.getSeq[Int](0))
    val native = df.filter(length(col("text")) >= 5)
      .selectExpr("shingle_set(text, 5) AS sh").collect().map(_.getSeq[Int](0))
    composed.zip(native).foreach { case (c, n) => assert(c == n) }
    // short strings: empty array (DuckDB generate_series semantics)
    val short = df.filter(length(col("text")) < 5)
      .selectExpr("shingle_set(text, 5)").collect()
    short.foreach(r => assert(r.getSeq[Int](0).isEmpty))
  }

  test("interpreted eval path matches codegen for shingle_set and minhash_sig") {
    // DataFrame tests exercise only doGenCode; fallback contexts
    // (e.g. Literal folding, interpreted projections) hit eval()
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val sh = ShingleHashSet(Literal("the quick query table"), 5)
      .eval(null).asInstanceOf[ArrayData]
    val viaDf = {
      import spark.implicits._
      Seq("the quick query table").toDF("text")
        .selectExpr("shingle_set(text, 5)").collect().head.getSeq[Int](0)
    }
    assert(sh.toIntArray().toSeq == viaDf)
    val mh = MinHashSignature(ShingleHashSet(Literal("the quick query table"), 5), 9)
      .eval(null).asInstanceOf[ArrayData]
    val mhDf = {
      import spark.implicits._
      Seq("the quick query table").toDF("text")
        .selectExpr("minhash_sig(shingle_set(text, 5), 9)").collect().head.getSeq[Long](0)
    }
    assert(mh.toLongArray().toSeq == mhDf)
  }

  test("minhash_sig yields NULL on empty input (matches HOF null band)") {
    import spark.implicits._
    val df = Seq(Seq.empty[Int]).toDF("sh")
    assert(df.selectExpr("minhash_sig(sh, 4)").collect().head.isNullAt(0))
  }

  test("delta_r SQL function matches Kinematics.deltaR column expr") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = Seq.fill(500)((
      -4.7 + rnd.nextDouble() * 9.4, -math.Pi + rnd.nextDouble() * 2 * math.Pi,
      -4.7 + rnd.nextDouble() * 9.4, -math.Pi + rnd.nextDouble() * 2 * math.Pi))
      .toDF("eta1", "phi1", "eta2", "phi2")
    val got = df.selectExpr("delta_r(eta1, phi1, eta2, phi2) AS native")
      .collect().map(_.getDouble(0))
    val want = df.select(Kinematics.deltaR(col("eta1"), col("phi1"),
      col("eta2"), col("phi2")).as("composed")).collect().map(_.getDouble(0))
    got.zip(want).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("delta_r propagates nulls") {
    import spark.implicits._
    val df = Seq((Some(1.0), None: Option[Double])).toDF("a", "b")
    val r = df.selectExpr("delta_r(a, b, a, a)").collect().head
    assert(r.isNullAt(0))
  }

  test("weighted_histogram aggregate matches groupBy(width_bucket) baseline") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(5000)((rnd.nextDouble() * 200.0 - 20.0, 1.0 + rnd.nextDouble()))
      .toDF("mass", "w")
    df.createOrReplaceTempView("hist_in")
    val native = spark.sql(
      "SELECT inline(weighted_histogram(mass, w, 0.0, 160.0, 40)) FROM hist_in")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .filter(t => t._2 != 0.0 || t._3 != 0.0)
      .sortBy(_._1)
    val baseline = Histogrammer.histogram(df, Seq(), col("mass"), col("w"), 0.0, 160.0, 40)
      .collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Float]("value").toDouble,
        r.getAs[Float]("sumw2").toDouble))
      .sortBy(_._1)
    assert(native.length == baseline.length)
    native.zip(baseline).foreach { case ((b1, v1, s1), (b2, v2, s2)) =>
      assert(b1 == b2)
      assert(math.abs(v1 - v2) < 1e-3)
      assert(math.abs(s1 - s2) < 1e-3)
    }
  }

  test("sorted_intersect_count matches array_intersect size on sorted inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(300)((
      rnd.shuffle((1L to 60L).toList).take(rnd.nextInt(40) + 1).distinct.sorted,
      rnd.shuffle((1L to 60L).toList).take(rnd.nextInt(40) + 1).distinct.sorted))
    val df = rows.toDF("a", "b")
    val got = df.selectExpr("sorted_intersect_count(a, b)")
      .collect().map(_.getLong(0))
    val want = rows.map { case (a, b) => a.toSet.intersect(b.toSet).size.toLong }
    got.zip(want).foreach { case (g, w) => assert(g == w) }
    // edge cases: empty, disjoint, identical
    val edges = Seq(
      (Seq.empty[Long], Seq(1L, 2L)), (Seq(1L, 3L), Seq(2L, 4L)),
      (Seq(5L, 6L, 7L), Seq(5L, 6L, 7L))).toDF("a", "b")
    val e = edges.selectExpr("sorted_intersect_count(a, b)")
      .collect().map(_.getLong(0)).toSeq
    assert(e == Seq(0L, 0L, 3L))
  }

  test("array_dot matches the interpreted zip_with/aggregate fold bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val df = Seq.fill(200)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("a", "b")
    val native = df.selectExpr("array_dot(a, b)").collect().map(_.getDouble(0))
    val hof = df.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)").collect().map(_.getDouble(0))
    native.zip(hof).foreach { case (n, h) => assert(n == h) } // exact
    // length-mismatch zip semantics + null propagation
    val edge = Seq((Array(1.0f, 2.0f), Array(3.0f))).toDF("a", "b")
    assert(edge.selectExpr("array_dot(a, b)").collect().head.getDouble(0) == 3.0)
  }

  test("weighted_histogram works per group and merges across partitions") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (s"g${i % 3}", i % 160 * 1.0, 1.0))
      .toDF("g", "mass", "w").repartition(8)
    df.createOrReplaceTempView("hist_g")
    val rows = spark.sql(
      """SELECT g, value FROM (
        | SELECT g, weighted_histogram(mass, w, 0.0, 160.0, 40) AS h
        | FROM hist_g GROUP BY g) LATERAL VIEW inline(h) t AS bin, value, sumw2""".stripMargin)
      .groupBy("g").sum("value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // total weight per group = row count per group
    assert(math.abs(rows("g0") - 333.0) < 1e-6)
    assert(math.abs(rows("g1") - 334.0) < 1e-6)
    assert(math.abs(rows("g2") - 333.0) < 1e-6)
  }

  test("mlp_dense rejects short inputs and NULL elements with clear errors") {
    import spark.implicits._
    // too-short input: layer expects 3 inputs, row carries 2
    val short = Seq(Array(1.0, 2.0)).toDF("v")
      .selectExpr("mlp_dense(v, array(1.0,0.0, 0.0,1.0, 1.0,1.0), array(0.0,0.0), false)")
    val e1 = intercept[Exception] { short.collect() }
    assert(causeChain(e1).exists(_.getMessage != null) &&
      causeChain(e1).exists(m => Option(m.getMessage).exists(_.contains("layer needs 3"))),
      s"unexpected error: $e1")
    // NULL element in a nullable-element array
    val withNull = Seq(Seq[Option[Double]](Some(1.0), None, Some(3.0))).toDF("v")
      .selectExpr("mlp_dense(v, array(1.0,0.0, 0.0,1.0, 1.0,1.0), array(0.0,0.0), false)")
    val e2 = intercept[Exception] { withNull.collect() }
    assert(causeChain(e2).exists(m => Option(m.getMessage).exists(_.contains("is NULL"))),
      s"unexpected error: $e2")
    // non-null path still computes
    val ok = Seq(Array(1.0, 2.0, 3.0)).toDF("v")
      .selectExpr("mlp_dense(v, array(1.0,0.0, 0.0,1.0, 1.0,1.0), array(0.5,0.0), false)")
      .collect().head.getSeq[Double](0)
    assert(ok === Seq(1.0 + 3.0 + 0.5, 2.0 + 3.0))
  }

  private def causeChain(t: Throwable): List[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toList
}
