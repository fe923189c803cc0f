package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** P14: the full Collins–Soper frame computation ("Pisa" variant,
  * reference python/math_tools.py:47-217) — Lorentz boost of both beam
  * four-vectors and the negative muon into the dimuon rest frame, beam
  * bisector construction, rotation into the CS axes, and the polar/
  * azimuthal angles of the negative muon.
  *
  * The physics is standard TLorentzVector algebra (boost with
  * γ²/(γ+1) spatial correction, axis rotation = transpose of the
  * rotation matrix whose columns are the new axes). It expands to ~50
  * scalar operations per row — expressed here as a layered `withColumn`
  * chain so the whole thing stays inside ONE whole-stage-codegen
  * projection: no UDF, no boxing, vectorized end-to-end. The DuckDB
  * oracle mirrors the layers as chained CTEs with the identical
  * expression text, so both engines evaluate the same double-precision
  * tree (outputs float32-cast).
  */
object CsFrameQueries extends QueryFamily {

  private val mMu = 0.1057
  private val beamE = 6500.0

  // ---- layered computation, Spark side -----------------------------------
  private[queries] def sparkLayers(df: DataFrame): DataFrame = {
    val c = (n: String) => col(n)
    df
      // layer 1: four-vector components
      .withColumn("px1", c("pt1") * cos(c("phi1")))
      .withColumn("py1", c("pt1") * sin(c("phi1")))
      .withColumn("pz1", c("pt1") * graft.physics.Kinematics.sinhP(c("eta1")))
      .withColumn("e1", sqrt(c("px1") * c("px1") + c("py1") * c("py1") + c("pz1") * c("pz1") + lit(mMu * mMu)))
      .withColumn("px2", c("pt2") * cos(c("phi2")))
      .withColumn("py2", c("pt2") * sin(c("phi2")))
      .withColumn("pz2", c("pt2") * graft.physics.Kinematics.sinhP(c("eta2")))
      .withColumn("e2", sqrt(c("px2") * c("px2") + c("py2") * c("py2") + c("pz2") * c("pz2") + lit(mMu * mMu)))
      .withColumn("px", c("px1") + c("px2"))
      .withColumn("py", c("py1") + c("py2"))
      .withColumn("pz", c("pz1") + c("pz2"))
      .withColumn("e", c("e1") + c("e2"))
      // layer 2: boost into dimuon rest frame
      .withColumn("bx", negate(c("px")) / c("e"))
      .withColumn("by", negate(c("py")) / c("e"))
      .withColumn("bz", negate(c("pz")) / c("e"))
      .withColumn("b2", c("bx") * c("bx") + c("by") * c("by") + c("bz") * c("bz"))
      .withColumn("gamma", lit(1.0) / sqrt(lit(1.0) - c("b2")))
      .withColumn("gamma2", (c("gamma") - lit(1.0)) / c("b2"))
      // boosted mu2 (spatial)
      .withColumn("bp2", c("bx") * c("px2") + c("by") * c("py2") + c("bz") * c("pz2"))
      .withColumn("m2x", c("px2") + c("gamma2") * c("bp2") * c("bx") + c("gamma") * c("bx") * c("e2"))
      .withColumn("m2y", c("py2") + c("gamma2") * c("bp2") * c("by") + c("gamma") * c("by") * c("e2"))
      .withColumn("m2z", c("pz2") + c("gamma2") * c("bp2") * c("bz") + c("gamma") * c("bz") * c("e2"))
      // boosted beam pf = (0,0,-E,E), pw = (0,0,+E,E)
      .withColumn("bpf", c("bz") * lit(-beamE))
      .withColumn("pfx", c("gamma2") * c("bpf") * c("bx") + c("gamma") * c("bx") * lit(beamE))
      .withColumn("pfy", c("gamma2") * c("bpf") * c("by") + c("gamma") * c("by") * lit(beamE))
      .withColumn("pfz", lit(-beamE) + c("gamma2") * c("bpf") * c("bz") + c("gamma") * c("bz") * lit(beamE))
      .withColumn("bpw", c("bz") * lit(beamE))
      .withColumn("pwx", c("gamma2") * c("bpw") * c("bx") + c("gamma") * c("bx") * lit(beamE))
      .withColumn("pwy", c("gamma2") * c("bpw") * c("by") + c("gamma") * c("by") * lit(beamE))
      .withColumn("pwz", lit(beamE) + c("gamma2") * c("bpw") * c("bz") + c("gamma") * c("bz") * lit(beamE))
      // layer 3: which boosted beam is closer in angle to the lab dimuon
      // direction (arccos is monotone-decreasing: compare normalized dots)
      .withColumn("pf_mag0", sqrt(c("pfx") * c("pfx") + c("pfy") * c("pfy") + c("pfz") * c("pfz")))
      .withColumn("pw_mag0", sqrt(c("pwx") * c("pwx") + c("pwy") * c("pwy") + c("pwz") * c("pwz")))
      .withColumn("dot_pf", (c("px") * c("pfx") + c("py") * c("pfy") + c("pz") * c("pfz")) / c("pf_mag0"))
      .withColumn("dot_pw", (c("px") * c("pwx") + c("py") * c("pwy") + c("pz") * c("pwz")) / c("pw_mag0"))
      // dots equal to within 1e-9 (relative) are a tie: the dimuon's pz
      // is analytically 0 and its sign is FP noise that differs between
      // engines (±5e-15 for eta ±0.2) — a tie takes the `otherwise`
      // branch, as an exact 0 does
      .withColumn("ffilter", c("dot_pf") > c("dot_pw") &&
        abs(c("dot_pf") - c("dot_pw")) > lit(1e-9) * (abs(c("dot_pf")) + abs(c("dot_pw"))))
      // layer 4: charge-dependent sign flips, then unit vectors
      .withColumn("sf", when(c("ffilter"), c("q2")).otherwise(negate(c("q2"))))
      .withColumn("sw", when(c("ffilter"), negate(c("q2"))).otherwise(c("q2")))
      .withColumn("ufx", c("sf") * c("pfx") / c("pf_mag0"))
      .withColumn("ufy", c("sf") * c("pfy") / c("pf_mag0"))
      .withColumn("ufz", c("sf") * c("pfz") / c("pf_mag0"))
      .withColumn("uwx", c("sw") * c("pwx") / c("pw_mag0"))
      .withColumn("uwy", c("sw") * c("pwy") / c("pw_mag0"))
      .withColumn("uwz", c("sw") * c("pwz") / c("pw_mag0"))
      // layer 5: bisector -> z axis; y axis = unit(z x unit(P_lab))
      .withColumn("bisx", c("ufx") + c("uwx"))
      .withColumn("bisy", c("ufy") + c("uwy"))
      .withColumn("bisz", c("ufz") + c("uwz"))
      .withColumn("bis_mag", sqrt(c("bisx") * c("bisx") + c("bisy") * c("bisy") + c("bisz") * c("bisz")))
      .withColumn("zx", c("bisx") / c("bis_mag"))
      .withColumn("zy", c("bisy") / c("bis_mag"))
      .withColumn("zz", c("bisz") / c("bis_mag"))
      .withColumn("p_mag", sqrt(c("px") * c("px") + c("py") * c("py") + c("pz") * c("pz")))
      .withColumn("upx", c("px") / c("p_mag"))
      .withColumn("upy", c("py") / c("p_mag"))
      .withColumn("upz", c("pz") / c("p_mag"))
      .withColumn("cyx", c("zy") * c("upz") - c("upy") * c("zz"))
      .withColumn("cyy", c("zz") * c("upx") - c("upz") * c("zx"))
      .withColumn("cyz", c("zx") * c("upy") - c("upx") * c("zy"))
      .withColumn("cy_mag", sqrt(c("cyx") * c("cyx") + c("cyy") * c("cyy") + c("cyz") * c("cyz")))
      .withColumn("yx", c("cyx") / c("cy_mag"))
      .withColumn("yy", c("cyy") / c("cy_mag"))
      .withColumn("yz", c("cyz") / c("cy_mag"))
      // x axis = y x z
      .withColumn("xx", c("yy") * c("zz") - c("zy") * c("yz"))
      .withColumn("xy", c("yz") * c("zx") - c("zz") * c("yx"))
      .withColumn("xz", c("yx") * c("zy") - c("zx") * c("yy"))
      // layer 6: rotate boosted mu2 into CS axes (projections)
      .withColumn("mx", c("xx") * c("m2x") + c("xy") * c("m2y") + c("xz") * c("m2z"))
      .withColumn("my", c("yx") * c("m2x") + c("yy") * c("m2y") + c("yz") * c("m2z"))
      .withColumn("mz", c("zx") * c("m2x") + c("zy") * c("m2y") + c("zz") * c("m2z"))
      // layer 7: angles. A few rows are knife-edge degenerate (the muon
      // lies exactly in the bisector–P plane, my analytically 0 but
      // ±1e-16 in FP) — snap to +0.0 so atan2's ±π branch cut cannot
      // flip between engines.
      .withColumn("my0", when(abs(c("my")) < 1e-9, lit(0.0)).otherwise(c("my")))
      // a muon at rest in the CS frame leaves the whole rotated vector
      // as FP noise (mx,my,mz all ~1e-15): both angles are undefined —
      // fix cosθ=1, φ=0 by convention
      .withColumn("m_mag2",
        c("mx") * c("mx") + c("my") * c("my") + c("mz") * c("mz"))
      // cosθ at exactly π/2 is ±1e-16 FP noise — snap to +0.0
      .withColumn("cos_raw",
        cos(atan2(sqrt(c("mx") * c("mx") + c("my") * c("my")), c("mz"))))
      .withColumn("cos_theta_cs_pisa",
        when(c("m_mag2") < 1e-16, lit(1.0))
          .when(abs(c("cos_raw")) < 1e-9, lit(0.0))
          .otherwise(c("cos_raw")))
      // partially degenerate rows (muon along ±z in the CS frame): phi
      // is analytically undefined — fix the convention to 0
      .withColumn("phi_cs_pisa",
        when(c("m_mag2") < 1e-16, lit(0.0))
          .when(abs(c("my")) < 1e-9 && abs(c("mx")) < 1e-9, lit(0.0))
          .otherwise(atan2(c("my0"), c("mx"))))
  }

  private def p14(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val base = ev.select(col("event_id"),
      (col("value") + lit(1.0)).as("pt1"),
      ((col("event_id") % 100) / lit(25.0) - lit(2.0)).as("eta1"),
      ((col("event_id") % 63) / lit(10.0) - lit(3.1)).as("phi1"),
      ((col("value") % 37.0) + lit(1.0)).as("pt2"),
      ((col("user_id") % 80) / lit(20.0) - lit(2.0)).as("eta2"),
      ((col("user_id") % 63) / lit(10.0) - lit(3.1)).as("phi2"),
      when(col("user_id") % 2 === 0, 1.0).otherwise(-1.0).as("q2"))
    sparkLayers(base)
      .select(col("event_id"),
        col("cos_theta_cs_pisa").cast("float").as("cos_theta_cs_pisa"),
        col("phi_cs_pisa").cast("float").as("phi_cs_pisa"))
      .orderBy(col("event_id"))
  }

  // ---- identical layers as chained CTEs, DuckDB side ---------------------
  private val p14Sql = {
    s"""WITH base AS (
       | SELECT event_id,
       |  value + 1.0 AS pt1,
       |  (event_id % 100) / 25.0 - 2.0 AS eta1,
       |  (event_id % 63) / 10.0 - 3.1 AS phi1,
       |  (value % 37.0) + 1.0 AS pt2,
       |  (user_id % 80) / 20.0 - 2.0 AS eta2,
       |  (user_id % 63) / 10.0 - 3.1 AS phi2,
       |  CASE WHEN user_id % 2 = 0 THEN 1.0 ELSE -1.0 END AS q2
       | FROM events),
       |l1 AS (
       | SELECT *, pt1 * COS(phi1) AS px1, pt1 * SIN(phi1) AS py1,
       |  pt1 * ${sinhS("eta1")} AS pz1,
       |  pt2 * COS(phi2) AS px2, pt2 * SIN(phi2) AS py2,
       |  pt2 * ${sinhS("eta2")} AS pz2
       | FROM base),
       |l1b AS (
       | SELECT *,
       |  SQRT(px1 * px1 + py1 * py1 + pz1 * pz1 + $mMu * $mMu) AS e1,
       |  SQRT(px2 * px2 + py2 * py2 + pz2 * pz2 + $mMu * $mMu) AS e2
       | FROM l1),
       |l1c AS (
       | SELECT *, px1 + px2 AS px, py1 + py2 AS py, pz1 + pz2 AS pz, e1 + e2 AS e
       | FROM l1b),
       |l2 AS (
       | SELECT *, -(px) / e AS bx, -(py) / e AS by, -(pz) / e AS bz FROM l1c),
       |l2b AS (
       | SELECT *, bx * bx + by * by + bz * bz AS b2 FROM l2),
       |l2c AS (
       | SELECT *, 1.0 / SQRT(1.0 - b2) AS gamma FROM l2b),
       |l2d AS (
       | SELECT *, (gamma - 1.0) / b2 AS gamma2,
       |  bx * px2 + by * py2 + bz * pz2 AS bp2,
       |  bz * -$beamE AS bpf, bz * $beamE AS bpw
       | FROM l2c),
       |l2e AS (
       | SELECT *,
       |  px2 + gamma2 * bp2 * bx + gamma * bx * e2 AS m2x,
       |  py2 + gamma2 * bp2 * by + gamma * by * e2 AS m2y,
       |  pz2 + gamma2 * bp2 * bz + gamma * bz * e2 AS m2z,
       |  gamma2 * bpf * bx + gamma * bx * $beamE AS pfx,
       |  gamma2 * bpf * by + gamma * by * $beamE AS pfy,
       |  -$beamE + gamma2 * bpf * bz + gamma * bz * $beamE AS pfz,
       |  gamma2 * bpw * bx + gamma * bx * $beamE AS pwx,
       |  gamma2 * bpw * by + gamma * by * $beamE AS pwy,
       |  $beamE + gamma2 * bpw * bz + gamma * bz * $beamE AS pwz
       | FROM l2d),
       |l3 AS (
       | SELECT *,
       |  SQRT(pfx * pfx + pfy * pfy + pfz * pfz) AS pf_mag0,
       |  SQRT(pwx * pwx + pwy * pwy + pwz * pwz) AS pw_mag0
       | FROM l2e),
       |l3b AS (
       | SELECT *,
       |  (px * pfx + py * pfy + pz * pfz) / pf_mag0 AS dot_pf,
       |  (px * pwx + py * pwy + pz * pwz) / pw_mag0 AS dot_pw
       | FROM l3),
       |l3c AS (
       | SELECT *, dot_pf > dot_pw
       |  AND ABS(dot_pf - dot_pw) > 1e-9 * (ABS(dot_pf) + ABS(dot_pw)) AS ffilter
       | FROM l3b),
       |l4 AS (
       | SELECT *,
       |  CASE WHEN ffilter THEN q2 ELSE -(q2) END AS sf,
       |  CASE WHEN ffilter THEN -(q2) ELSE q2 END AS sw
       | FROM l3c),
       |l4b AS (
       | SELECT *,
       |  sf * pfx / pf_mag0 AS ufx, sf * pfy / pf_mag0 AS ufy, sf * pfz / pf_mag0 AS ufz,
       |  sw * pwx / pw_mag0 AS uwx, sw * pwy / pw_mag0 AS uwy, sw * pwz / pw_mag0 AS uwz
       | FROM l4),
       |l5 AS (
       | SELECT *, ufx + uwx AS bisx, ufy + uwy AS bisy, ufz + uwz AS bisz FROM l4b),
       |l5b AS (
       | SELECT *, SQRT(bisx * bisx + bisy * bisy + bisz * bisz) AS bis_mag,
       |  SQRT(px * px + py * py + pz * pz) AS p_mag
       | FROM l5),
       |l5c AS (
       | SELECT *, bisx / bis_mag AS zx, bisy / bis_mag AS zy, bisz / bis_mag AS zz,
       |  px / p_mag AS upx, py / p_mag AS upy, pz / p_mag AS upz
       | FROM l5b),
       |l5d AS (
       | SELECT *,
       |  zy * upz - upy * zz AS cyx,
       |  zz * upx - upz * zx AS cyy,
       |  zx * upy - upx * zy AS cyz
       | FROM l5c),
       |l5e AS (
       | SELECT *, SQRT(cyx * cyx + cyy * cyy + cyz * cyz) AS cy_mag FROM l5d),
       |l5f AS (
       | SELECT *, cyx / cy_mag AS yx, cyy / cy_mag AS yy, cyz / cy_mag AS yz FROM l5e),
       |l5g AS (
       | SELECT *,
       |  yy * zz - zy * yz AS xx,
       |  yz * zx - zz * yx AS xy,
       |  yx * zy - zx * yy AS xz
       | FROM l5f),
       |l6 AS (
       | SELECT *,
       |  xx * m2x + xy * m2y + xz * m2z AS mx,
       |  yx * m2x + yy * m2y + yz * m2z AS my,
       |  zx * m2x + zy * m2y + zz * m2z AS mz
       | FROM l5g)
       |SELECT event_id,
       | CAST(CASE WHEN mx * mx + my * my + mz * mz < 1e-16 THEN 1.0
       |      WHEN ABS(COS(ATAN2(SQRT(mx * mx + my * my), mz))) < 1e-9 THEN 0.0
       |      ELSE COS(ATAN2(SQRT(mx * mx + my * my), mz)) END AS REAL) AS cos_theta_cs_pisa,
       | CAST(CASE WHEN mx * mx + my * my + mz * mz < 1e-16 THEN 0.0
       |      WHEN ABS(my) < 1e-9 AND ABS(mx) < 1e-9 THEN 0.0
       |      ELSE ATAN2(CASE WHEN ABS(my) < 1e-9 THEN 0.0 ELSE my END, mx)
       |      END AS REAL) AS phi_cs_pisa
       |FROM l6 ORDER BY event_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p14_cs_pisa" -> (p14 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "p14_cs_pisa" -> p14Sql
  ).view
}
