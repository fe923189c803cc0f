package graft.queries

import graft.SparkSpec

/** Physics sanity for the full CS-frame computation: the angles must be
  * genuine angles for every event, and the two CS implementations
  * (simple tanh form p13, full boost p14) must agree in |cosθ| up to
  * the simple form's approximation on the same pseudo-kinematics. */
class CsFrameSpec extends SparkSpec {

  test("p14 angles are in range for every event") {
    val df = CsFrameQueries.queries("p14_cs_pisa")(spark, sf("sf0.001"))
    val rows = df.collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val cos = r.getAs[Float]("cos_theta_cs_pisa")
      val phi = r.getAs[Float]("phi_cs_pisa")
      assert(cos >= -1.0001f && cos <= 1.0001f, s"cos out of range: $cos")
      assert(phi >= -math.Pi - 1e-4 && phi <= math.Pi + 1e-4, s"phi out of range: $phi")
    }
  }

  test("p14 |cos| correlates with the simple CS form") {
    val full = CsFrameQueries.queries("p14_cs_pisa")(spark, sf("sf0.001"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        math.abs(r.getAs[Float]("cos_theta_cs_pisa").toDouble)).toMap
    val simple = PhysicsQueries.queries("p13_cs_angles")(spark, sf("sf0.001"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        math.abs(r.getAs[Float]("cos_theta_cs").toDouble)).toMap
    val common = full.keySet.intersect(simple.keySet).toSeq
    assert(common.size > 100)
    // the simple form approximates the boost: demand positive rank-ish
    // correlation, not equality
    val pairs = common.map(k => (full(k), simple(k)))
    val n = pairs.size.toDouble
    val (mx, my) = (pairs.map(_._1).sum / n, pairs.map(_._2).sum / n)
    val cov = pairs.map { case (a, b) => (a - mx) * (b - my) }.sum
    val sx = math.sqrt(pairs.map(p => math.pow(p._1 - mx, 2)).sum)
    val sy = math.sqrt(pairs.map(p => math.pow(p._2 - my, 2)).sum)
    val corr = cov / (sx * sy)
    assert(corr > 0.5, s"correlation $corr between boost and simple CS forms")
  }

  test("p14 resolves a near-tie of the beam dots the same way for pz = +-1e-14") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    // eta1 = -eta2 = 0.2: the dimuon's pz is 0 up to the pt2 offset,
    // which makes it about +1e-14 in one row and -1e-14 in the other
    val rows = Seq(30.0 - 5e-14, 30.0 + 5e-14).map(pt2 => (pt2, 30.0, 0.2, 0.3, pt2, -0.2, 2.0, 1.0))
      .toDF("key", "pt1", "eta1", "phi1", "pt2", "eta2", "phi2", "q2")
    val out = CsFrameQueries.sparkLayers(rows)
      .select(col("key"), col("pz"), col("cos_theta_cs_pisa"), col("phi_cs_pisa"))
      .orderBy(col("key")).collect()
    val pz = out.map(_.getDouble(1))
    assert(pz(0) > 0 && pz(1) < 0 && pz.forall(p => math.abs(p) < 2e-14),
      s"inputs are not a +-1e-14 mirror pair: pz ${pz.mkString(", ")}")
    val Seq(a, b) = out.toSeq.map(r => (r.getDouble(2), r.getDouble(3)))
    assert(math.abs(a._1) > 0.1, s"cos theta ${a._1} is too close to 0 to tell the branches apart")
    assert(math.abs(a._1 - b._1) < 1e-9 && math.abs(a._2 - b._2) < 1e-9,
      s"mirror rows differ: (cos, phi) $a vs $b")
  }
}
