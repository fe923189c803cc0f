package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.physics.{Kinematics => K, Selections}

/** Projection / filter / computed-column operators (SURVEY.md §2.2,
  * P2–P24) phrased over the test tables, with pseudo-kinematics derived
  * deterministically from uniform columns.
  *
  * Every query is row-wise (no aggregation), so Spark and DuckDB evaluate
  * the identical double-precision expression tree; final floats are cast
  * to float32 on both sides to absorb libm ulp differences.
  */
object PhysicsQueries extends QueryFamily {

  // ---- shared pseudo-kinematics (events table) ---------------------------
  // Two four-vectors per event row, derived from (value, event_id, user_id).
  private def vecCols: Seq[Column] = Seq(
    (col("value") + lit(1.0)).as("pt1"),
    ((col("event_id") % 100) / lit(25.0) - lit(2.0)).as("eta1"),
    ((col("event_id") % 63) / lit(10.0) - lit(3.1)).as("phi1"),
    ((col("value") % 37.0) + lit(1.0)).as("pt2"),
    ((col("user_id") % 80) / lit(20.0) - lit(2.0)).as("eta2"),
    ((col("user_id") % 63) / lit(10.0) - lit(3.1)).as("phi2"))
  private val vecSql =
    """value + 1.0 AS pt1,
      | (event_id % 100) / 25.0 - 2.0 AS eta1,
      | (event_id % 63) / 10.0 - 3.1 AS phi1,
      | (value % 37.0) + 1.0 AS pt2,
      | (user_id % 80) / 20.0 - 2.0 AS eta2,
      | (user_id % 63) / 10.0 - 3.1 AS phi2""".stripMargin
  private val muMass = 0.1057

  // SQL mirrors of Kinematics' portable forms (same expression tree);
  // sinhS and pzS are the package's.
  private def asinhS(x: String) = s"LN(($x) + SQRT(($x) * ($x) + 1.0))"
  private def tanhS(x: String) = s"((EXP(($x) * 2.0) - 1.0) / (EXP(($x) * 2.0) + 1.0))"
  private def pmodS(x: String, m: String) = s"((($x) % ($m)) + ($m)) % ($m)"
  private def dphiS(p1: String, p2: String) =
    s"ABS(${pmodS(s"$p1 - $p2 + PI()", "2.0 * PI()")} - PI())"
  private def pxS(pt: String, phi: String) = s"(($pt) * COS($phi))"
  private def pyS(pt: String, phi: String) = s"(($pt) * SIN($phi))"
  private def eS(pt: String, eta: String, m: String) =
    s"SQRT(($pt) * ($pt) + ${pzS(pt, eta)} * ${pzS(pt, eta)} + ($m) * ($m))"

  // ---- p02: event-quality flag AND (P2) ----------------------------------
  // reference: stage1/processor.py:234-235 — product of named bool flags
  // > 0; a missing flag column is tolerated as false via coalesce.
  private def p02(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val flags = Seq(
      col("l_quantity") > 10.0,
      col("l_discount") < 0.08,
      lit(null).cast("boolean")) // a "missing" flag column
    li.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        Selections.allFlags(flags.init).as("pass_all"),
        Selections.allFlags(flags).as("pass_with_missing"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private val p02Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      | (COALESCE(l_quantity > 10.0, FALSE) AND COALESCE(l_discount < 0.08, FALSE)) AS pass_all,
      | (COALESCE(l_quantity > 10.0, FALSE) AND COALESCE(l_discount < 0.08, FALSE)
      |   AND COALESCE(CAST(NULL AS BOOLEAN), FALSE)) AS pass_with_missing
      |FROM lineitem ORDER BY 1, 2, 3""".stripMargin

  // ---- p03: HLT trigger OR (P3) ------------------------------------------
  // reference: stage1/processor.py:151-156 — OR of per-year trigger
  // columns, missing branches tolerated.
  private def p03(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val triggers = Seq(
      col("event_type") === "click",
      col("value") > 400.0,
      lit(null).cast("boolean"))
    ev.select(col("event_id"), Selections.anyTrigger(triggers).as("fired"))
      .orderBy(col("event_id"))
  }
  private val p03Sql =
    """SELECT event_id,
      | (COALESCE(event_type = 'click', FALSE) OR COALESCE(value > 400.0, FALSE)
      |   OR COALESCE(CAST(NULL AS BOOLEAN), FALSE)) AS fired
      |FROM events ORDER BY event_id""".stripMargin

  // ---- p04: lumi-mask interval join (P4) ---------------------------------
  // reference: stage1/processor.py:146-148 — (run, luminosityBlock) must
  // fall in a certified range from a run -> [[lo,hi],...] JSON. Broadcast
  // range join: the mask table is tiny, the event side never shuffles.
  private val lumiRanges: Seq[(Long, Long, Long)] =
    (0L until 150L).map(r => (r, (r * 37) % 600, (r * 37) % 600 + 250))
  private def p04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = rd(s, dir, "events")
      .select(col("event_id"), col("user_id").as("run"),
              (col("event_id") % 1000).as("lumi"))
    val mask = broadcast(lumiRanges.toDF("m_run", "m_lo", "m_hi"))
    ev.join(mask, col("run") === col("m_run") &&
        col("lumi") >= col("m_lo") && col("lumi") <= col("m_hi"), "left_semi")
      .orderBy(col("event_id"))
  }
  private val p04Sql = {
    val values = lumiRanges.map { case (r, lo, hi) => s"($r, $lo, $hi)" }
      .mkString(", ")
    s"""SELECT event_id, user_id AS run, event_id % 1000 AS lumi
       |FROM events
       |WHERE EXISTS (SELECT 1 FROM (VALUES $values) AS m(m_run, m_lo, m_hi)
       |  WHERE user_id = m_run AND event_id % 1000 >= m_lo AND event_id % 1000 <= m_hi)
       |ORDER BY event_id""".stripMargin
  }

  // ---- p05: object selection (P5) ----------------------------------------
  // reference: stage1/processor.py:243-249 — per-object predicate over
  // pt/eta/iso/id analogs; Catalyst pushes these into the parquet scan.
  private def p05(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    li.filter(col("l_extendedprice") > 20000.0 &&
        abs(col("l_discount") * 40.0 - 2.0) < 1.6 &&
        col("l_tax") < 0.06 && col("l_quantity") > 5.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
              col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private val p05Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
      |FROM lineitem
      |WHERE l_extendedprice > 20000.0 AND ABS(l_discount * 40.0 - 2.0) < 1.6
      |  AND l_tax < 0.06 AND l_quantity > 5.0
      |ORDER BY 1, 2, 3""".stripMargin

  // ---- p06: veto / NOT EXISTS (P6) ---------------------------------------
  // reference: stage1/processor.py:263-268 — keep events with no electron
  // passing the selection; left-anti join keyed on the event.
  private def p06(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val li = rd(s, dir, "lineitem")
    val electrons = li.filter(col("l_quantity") < 3.0)
      .select(col("l_orderkey").as("e_orderkey"))
    o.join(electrons, col("o_orderkey") === col("e_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }
  private val p06Sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_quantity < 3.0)
      |ORDER BY o_orderkey""".stripMargin

  // ---- p07: bit-test selection with escapes (P7) -------------------------
  // reference: stage1/jets.py:150-178 — jetId/puId working-point bit
  // tests with a pt>50 escape hatch and an eta-window special case.
  private def p07(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val jetId = col("l_linenumber").bitwiseAND(lit(2)) =!= 0
    val puId = col("l_linenumber").bitwiseAND(lit(4)) =!= 0
    val pt = col("l_extendedprice") / lit(1000.0)
    val eta = col("l_discount") * 94.0 - 4.7
    val pass = jetId && (puId || pt > 50.0) &&
      when(abs(eta) > 2.6 && abs(eta) < 3.0, pt > 30.0).otherwise(pt > 25.0)
    li.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        pass.as("jet_pass"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private val p07Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      | ((l_linenumber & 2) != 0 AND ((l_linenumber & 4) != 0 OR l_extendedprice / 1000.0 > 50.0)
      |  AND (CASE WHEN ABS(l_discount * 94.0 - 4.7) > 2.6 AND ABS(l_discount * 94.0 - 4.7) < 3.0
      |       THEN l_extendedprice / 1000.0 > 30.0
      |       ELSE l_extendedprice / 1000.0 > 25.0 END)) AS jet_pass
      |FROM lineitem ORDER BY 1, 2, 3""".stripMargin

  // ---- p08: mass-region labeler (P8) -------------------------------------
  // reference: stage1/processor.py:471-478.
  private def p08(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val mass = col("o_totalprice") % lit(160.0)
    o.select(col("o_orderkey"), mass.cast("float").as("mass"),
        Selections.regionLabel(mass).as("region"))
      .orderBy(col("o_orderkey"))
  }
  private val p08Sql =
    s"""SELECT o_orderkey, CAST(o_totalprice % 160.0 AS REAL) AS mass,
       | ${RelationalQueries.regionCaseSql("(o_totalprice % 160.0)")} AS region
       |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- p09: channel labeler cascade (P9) ---------------------------------
  // reference: stage2/categorizer.py:1-23 — priority cascade over
  // per-event aggregates (order of branches is semantic).
  private def p09(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val per = li.groupBy(col("l_orderkey")).agg(
      count(lit(1)).as("njets"),
      sum(when(col("l_quantity") > 45.0, 1L).otherwise(0L)).as("nbtag"),
      max(col("l_extendedprice")).as("jj_mass_proxy"),
      (max(col("l_discount")) * lit(40.0)).as("deta_proxy"),
      (max(col("l_extendedprice")) / lit(1000.0)).as("lead_pt"))
    per.select(col("l_orderkey"),
        Selections.channelLabel(col("nbtag"), col("jj_mass_proxy") / 100.0,
          col("deta_proxy"), col("lead_pt"), col("njets")).as("channel"))
      .orderBy(col("l_orderkey"))
  }
  private val p09Sql =
    """SELECT l_orderkey,
      | CASE WHEN nbtag > 1 THEN 'ttHorVH'
      |      WHEN jj_mass_proxy / 100.0 > 400.0 AND deta_proxy > 2.5 AND lead_pt > 35.0 THEN 'vbf'
      |      WHEN njets = 0 THEN 'ggh_0jets'
      |      WHEN njets = 1 THEN 'ggh_1jet'
      |      ELSE 'ggh_2orMoreJets' END AS channel
      |FROM (SELECT l_orderkey, COUNT(*) AS njets,
      |        SUM(CASE WHEN l_quantity > 45.0 THEN 1 ELSE 0 END) AS nbtag,
      |        MAX(l_extendedprice) AS jj_mass_proxy,
      |        MAX(l_discount) * 40.0 AS deta_proxy,
      |        MAX(l_extendedprice) / 1000.0 AS lead_pt
      |      FROM lineitem GROUP BY 1)
      |ORDER BY l_orderkey""".stripMargin

  // ---- p10: four-vector sum (P10 + P12) ----------------------------------
  // reference: python/math_tools.py:5-35 — (pt,eta,phi,m)x2 -> composite
  // (pt, eta, phi, mass, rap). Pure column math, single codegen stage.
  private def p10(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val v = ev.select((col("event_id") +: vecCols): _*)
    val m = lit(muMass)
    v.select(col("event_id"),
        K.p4SumPt(col("pt1"), col("phi1"), col("pt2"), col("phi2"))
          .cast("float").as("sum_pt"),
        K.p4SumEta(col("pt1"), col("eta1"), col("phi1"),
                   col("pt2"), col("eta2"), col("phi2"))
          .cast("float").as("sum_eta"),
        K.p4SumPhi(col("pt1"), col("phi1"), col("pt2"), col("phi2"))
          .cast("float").as("sum_phi"),
        K.p4SumMass(col("pt1"), col("eta1"), col("phi1"), m,
                    col("pt2"), col("eta2"), col("phi2"), m)
          .cast("float").as("sum_mass"),
        K.p4SumRap(col("pt1"), col("eta1"), col("phi1"), m,
                   col("pt2"), col("eta2"), col("phi2"), m)
          .cast("float").as("sum_rap"))
      .orderBy(col("event_id"))
  }
  private val p10Sql = {
    val (sx, sy) = (s"${pxS("pt1", "phi1")} + ${pxS("pt2", "phi2")}",
                    s"${pyS("pt1", "phi1")} + ${pyS("pt2", "phi2")}")
    val sz = s"${pzS("pt1", "eta1")} + ${pzS("pt2", "eta2")}"
    val se = s"${eS("pt1", "eta1", muMass.toString)} + ${eS("pt2", "eta2", muMass.toString)}"
    s"""SELECT event_id,
       | CAST(SQRT(($sx) * ($sx) + ($sy) * ($sy)) AS REAL) AS sum_pt,
       | CAST(${asinhS(s"($sz) / SQRT(($sx) * ($sx) + ($sy) * ($sy))")} AS REAL) AS sum_eta,
       | CAST(ATAN2(($sy), ($sx)) AS REAL) AS sum_phi,
       | CAST(SQRT(GREATEST(($se) * ($se) - ($sx) * ($sx) - ($sy) * ($sy) - ($sz) * ($sz), 0.0)) AS REAL) AS sum_mass,
       | CAST(0.5 * LN((($se) + ($sz)) / (($se) - ($sz))) AS REAL) AS sum_rap
       |FROM (SELECT event_id, $vecSql FROM events)
       |ORDER BY event_id""".stripMargin
  }

  // ---- p11: delta_eta / delta_phi / delta_r (P11) ------------------------
  // reference: python/math_tools.py:220-224.
  private def p11(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val v = ev.select((col("event_id") +: vecCols): _*)
    v.select(col("event_id"),
        K.deltaEta(col("eta1"), col("eta2")).cast("float").as("d_eta"),
        K.deltaPhi(col("phi1"), col("phi2")).cast("float").as("d_phi"),
        K.deltaR(col("eta1"), col("phi1"), col("eta2"), col("phi2"))
          .cast("float").as("d_r"))
      .orderBy(col("event_id"))
  }
  private val p11Sql = {
    val de = "ABS(eta1 - eta2)"
    val dp = dphiS("phi1", "phi2")
    s"""SELECT event_id,
       | CAST($de AS REAL) AS d_eta,
       | CAST($dp AS REAL) AS d_phi,
       | CAST(SQRT(($de) * ($de) + ($dp) * ($dp)) AS REAL) AS d_r
       |FROM (SELECT event_id, $vecSql FROM events)
       |ORDER BY event_id""".stripMargin
  }

  // ---- p13: Collins–Soper angles, simple form (P13) ----------------------
  // reference: python/math_tools.py:38-42.
  private def p13(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val v = ev.select((col("event_id") +: vecCols): _*)
    v.select(col("event_id"),
        K.cosThetaCS(col("eta1"), col("eta2")).cast("float").as("cos_theta_cs"),
        K.phiCS(col("eta1"), col("phi1"), col("eta2"), col("phi2"))
          .cast("float").as("phi_cs"))
      .orderBy(col("event_id"))
  }
  private val p13Sql = {
    val ct = tanhS("(eta1 - eta2) / 2.0")
    val st = s"SQRT(GREATEST(1.0 - ($ct) * ($ct), 0.0))"
    s"""SELECT event_id,
       | CAST($ct AS REAL) AS cos_theta_cs,
       | CAST(TAN((PI() - ${dphiS("phi1", "phi2")}) / 2.0) * ($st) AS REAL) AS phi_cs
       |FROM (SELECT event_id, $vecSql FROM events)
       |ORDER BY event_id""".stripMargin
  }

  // ---- p17: derived VBF kinematics (P17) ---------------------------------
  // reference: stage1/jets.py:115-147 — zeppenfeld, rpt, log variables,
  // mmj_min_dEta/dPhi. NOTE the reference's mmj_min has an np.where
  // ARG-ORDER BUG (`stage1/jets.py:137-147`: np.where(a, b, a < b) —
  // condition and branches swapped, yielding b wherever a != 0). This
  // port implements the INTENDED semantics — elementwise min of the two
  // dimuon-jet distances — and the oracle locks the corrected form
  // (LEAST on both engines). See COVERAGE.md §2.2 P17.
  private def p17(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val v = ev.select((Seq(col("event_id"), col("value")) ++ vecCols): _*)
    val etaLL = (col("value") % 5.0) - lit(2.5)
    val phiLL = (col("value") % 6.2) - lit(3.1)
    val ptSum = K.p4SumPt(col("pt1"), col("phi1"), col("pt2"), col("phi2"))
    v.select(col("event_id"),
        K.zeppenfeld(etaLL, col("eta1"), col("eta2")).cast("float").as("zeppenfeld"),
        K.rPt(ptSum, col("value") + 1.0, col("pt1"), col("pt2")).cast("float").as("rpt"),
        log(col("value") + lit(1.0)).cast("float").as("jj_mass_log"),
        log(abs(K.zeppenfeld(etaLL, col("eta1"), col("eta2"))) + lit(1e-9))
          .cast("float").as("ll_zstar_log"),
        least(K.deltaEta(etaLL, col("eta1")), K.deltaEta(etaLL, col("eta2")))
          .cast("float").as("mmj_min_deta"),
        least(K.deltaPhi(phiLL, col("phi1")), K.deltaPhi(phiLL, col("phi2")))
          .cast("float").as("mmj_min_dphi"))
      .orderBy(col("event_id"))
  }
  private val p17Sql = {
    val zep = "(((value % 5.0) - 2.5) - (eta1 + eta2) / 2.0)"
    val (sx, sy) = (s"${pxS("pt1", "phi1")} + ${pxS("pt2", "phi2")}",
                    s"${pyS("pt1", "phi1")} + ${pyS("pt2", "phi2")}")
    val etaLL = "((value % 5.0) - 2.5)"
    val phiLL = "((value % 6.2) - 3.1)"
    s"""SELECT event_id,
       | CAST($zep AS REAL) AS zeppenfeld,
       | CAST(SQRT(($sx) * ($sx) + ($sy) * ($sy)) / ((value + 1.0) + pt1 + pt2) AS REAL) AS rpt,
       | CAST(LN(value + 1.0) AS REAL) AS jj_mass_log,
       | CAST(LN(ABS($zep) + 1e-9) AS REAL) AS ll_zstar_log,
       | CAST(LEAST(ABS($etaLL - eta1), ABS($etaLL - eta2)) AS REAL) AS mmj_min_deta,
       | CAST(LEAST(${dphiS(phiLL, "phi1")}, ${dphiS(phiLL, "phi2")}) AS REAL) AS mmj_min_dphi
       |FROM (SELECT event_id, value, $vecSql FROM events)
       |ORDER BY event_id""".stripMargin
  }

  // ---- p25: tag-and-probe efficiency (extension) ---------------------------
  // The standard data-driven efficiency measurement (trigger/ID
  // efficiency vs pT): events where leg 1 passes a TIGHT tag selection
  // contribute leg 2 as an unbiased probe; per probe-pT bin, the
  // passing fraction estimates the per-leg efficiency, reported with
  // the Wilson score interval (z = 2). Counts are exact integers from
  // one scan + one bin-keyed aggregate; the efficiency and interval
  // bounds are single fixed-parenthesization double expressions over
  // (n, k) — identical correctly-rounded ops on both engines, float32
  // at the end.
  private def p25(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val v = ev.select((Seq(col("event_id"), col("user_id")) ++ vecCols): _*)
    val tagged = v.filter(col("pt1") > 20.0 && abs(col("eta1")) < 1.5)
      .select(expr("CAST(floor(pt2 / 5.0) AS BIGINT)").as("pt_bin"),
        expr("CASE WHEN user_id % 10 < 7 THEN 1L ELSE 0L END").as("pass"))
    val eff = "CAST(k AS DOUBLE) / n"
    val wilson = (sign: String) =>
      s"((CAST(k AS DOUBLE) / n + 2.0 / n) $sign " +
        s"2.0 * SQRT((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n" +
        s" + 1.0 / (n * CAST(n AS DOUBLE)))) / (1.0 + 4.0 / n)"
    tagged.groupBy(col("pt_bin"))
      .agg(count(lit(1)).as("n"), sum(col("pass")).as("k"))
      .select(col("pt_bin"), col("n"), col("k"),
        expr(s"CAST($eff AS FLOAT)").as("eff"),
        expr(s"CAST(${wilson("-")} AS FLOAT)").as("eff_lo"),
        expr(s"CAST(${wilson("+")} AS FLOAT)").as("eff_hi"))
      .orderBy(col("pt_bin"))
  }
  private val p25Sql = {
    val eff = "CAST(k AS DOUBLE) / n"
    val wilson = (sign: String) =>
      s"((CAST(k AS DOUBLE) / n + 2.0 / n) $sign " +
        s"2.0 * SQRT((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n) / n" +
        s" + 1.0 / (n * CAST(n AS DOUBLE)))) / (1.0 + 4.0 / n)"
    s"""WITH v AS (SELECT event_id, user_id, $vecSql FROM events),
       |probes AS (
       | SELECT CAST(FLOOR(pt2 / 5.0) AS BIGINT) AS pt_bin,
       |  CASE WHEN user_id % 10 < 7 THEN 1 ELSE 0 END AS pass
       | FROM v WHERE pt1 > 20.0 AND ABS(eta1) < 1.5),
       |agg AS (
       | SELECT pt_bin, COUNT(*) AS n, CAST(SUM(pass) AS BIGINT) AS k
       | FROM probes GROUP BY 1)
       |SELECT pt_bin, n, k,
       | CAST($eff AS REAL) AS eff,
       | CAST(${wilson("-")} AS REAL) AS eff_lo,
       | CAST(${wilson("+")} AS REAL) AS eff_hi
       |FROM agg ORDER BY pt_bin""".stripMargin
  }

  // ---- p18: FSR recovery — conditional indexed merge (P18/J1) ------------
  // reference: stage1/corrections/fsr_recovery.py:5-49 — muon's
  // fsrPhotonIdx picks an event-local photon; if the photon passes
  // quality cuts, the muon kinematics are replaced by the merged value.
  private def p18(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val muons = li.filter(col("l_quantity") <= 10.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
              (col("l_extendedprice") / lit(500.0)).as("mu_pt"))
    val photons = li.filter(col("l_quantity") >= 45.0)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_extendedprice"))))
        .as("phs"))
    val idx = (pmod(col("l_linenumber"), size(col("phs"))) + 1).cast("int")
    val ph = element_at(col("phs"), idx).getField("l_extendedprice")
    val phPt = ph / lit(500.0)
    val merged = muons.join(photons, Seq("l_orderkey"), "left")
      .withColumn("fsr_ok",
        col("phs").isNotNull && (col("mu_pt") / (phPt + col("mu_pt"))) > lit(0.6))
      .withColumn("pt_corr",
        when(col("fsr_ok"), col("mu_pt") + phPt).otherwise(col("mu_pt")))
    merged.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("fsr_ok"), col("pt_corr").cast("float").as("pt_corr"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private val p18Sql =
    """WITH muons AS (
      | SELECT l_orderkey, l_linenumber, l_extendedprice,
      |        l_extendedprice / 500.0 AS mu_pt
      | FROM lineitem WHERE l_quantity <= 10.0),
      |photons AS (
      | SELECT l_orderkey,
      |        LIST(l_extendedprice ORDER BY l_linenumber ASC, l_extendedprice ASC) AS phs
      | FROM lineitem WHERE l_quantity >= 45.0 GROUP BY 1),
      |joined AS (
      | SELECT m.*, p.phs,
      |   p.phs[CAST(((m.l_linenumber % len(p.phs)) + len(p.phs)) % len(p.phs) AS BIGINT) + 1] / 500.0 AS ph_pt
      | FROM muons m LEFT JOIN photons p USING (l_orderkey))
      |SELECT l_orderkey, l_linenumber, l_extendedprice,
      | (phs IS NOT NULL AND mu_pt / (ph_pt + mu_pt) > 0.6) AS fsr_ok,
      | CAST(CASE WHEN phs IS NOT NULL AND mu_pt / (ph_pt + mu_pt) > 0.6
      |      THEN mu_pt + ph_pt ELSE mu_pt END AS REAL) AS pt_corr
      |FROM joined ORDER BY 1, 2, 3""".stripMargin

  // ---- p19: eta-binned piecewise correction + raw snapshot (P19/P20) -----
  // reference: stage1/corrections/geofit.py:5-28 — pt -= f(|eta| bin) *
  // d0 * charge * pt^2 / 1e4; the uncorrected value is kept as pt_raw.
  private def p19(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val pt = col("value") + lit(1.0)
    val eta = (col("event_id") % 100) / lit(25.0) - lit(2.0)
    val d0 = (col("user_id") % 21) / lit(1000.0) - lit(0.01)
    val charge = when(col("event_id") % 2 === 0, 1.0).otherwise(-1.0)
    val factor = when(abs(eta) < 0.9, 411.34)
      .when(abs(eta) < 1.7, 673.40)
      .otherwise(1099.0)
    val corr = pt - factor * d0 * charge * pt * pt / lit(1.0e4)
    ev.select(col("event_id"), pt.cast("float").as("pt_raw"),
        corr.cast("float").as("pt_corr"))
      .orderBy(col("event_id"))
  }
  private val p19Sql =
    """SELECT event_id, CAST(pt AS REAL) AS pt_raw,
      | CAST(pt - (CASE WHEN ABS(eta) < 0.9 THEN 411.34
      |            WHEN ABS(eta) < 1.7 THEN 673.40
      |            ELSE 1099.0 END) * d0 * charge * pt * pt / 1.0e4 AS REAL) AS pt_corr
      |FROM (SELECT event_id, value + 1.0 AS pt,
      |        (event_id % 100) / 25.0 - 2.0 AS eta,
      |        (user_id % 21) / 1000.0 - 0.01 AS d0,
      |        CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE -1.0 END AS charge
      |      FROM events)
      |ORDER BY event_id""".stripMargin

  // ---- p21: gen-mass split filter (P21) ----------------------------------
  // reference: stage2/postprocessor.py:86-89 — complementary mass-window
  // filters keyed by dataset name.
  private def p21(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    d.filter((col("source") === "web" && col("n_chars") <= 350) ||
             (col("source") =!= "web" && col("n_chars") > 350))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }
  private val p21Sql =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE (source = 'web' AND n_chars <= 350)
      |   OR (source != 'web' AND n_chars > 350)
      |ORDER BY doc_id""".stripMargin

  // ---- p22: conditional relabeling (P22) ---------------------------------
  // reference: stage2/postprocessor.py:111-123 — rename dataset based on
  // per-row gen-match booleans.
  private def p22(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    d.select(col("doc_id"),
        when(col("n_chars") > 400, concat(col("source"), lit("_2j")))
          .when(col("n_chars") > 200, concat(col("source"), lit("_01j")))
          .otherwise(col("source")).as("source_relabel"))
      .orderBy(col("doc_id"))
  }
  private val p22Sql =
    """SELECT doc_id,
      | CASE WHEN n_chars > 400 THEN source || '_2j'
      |      WHEN n_chars > 200 THEN source || '_01j'
      |      ELSE source END AS source_relabel
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- p23: score -> bin digitize (P23) ----------------------------------
  // reference: stage2/postprocessor.py:172-195 + config/mva_bins.py —
  // map an MVA score onto per-model bin edges.
  private val mvaEdges = Seq(0.0, 0.3, 0.5, 0.7, 0.85, 1.0)
  private def p23(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val score = (col("value") % 1.0)
    val bin = mvaEdges.init.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (edge, i)) => when(score >= edge, i + 1).otherwise(acc)
    }
    ev.select(col("event_id"), score.cast("float").as("score"), bin.as("mva_bin"))
      .orderBy(col("event_id"))
  }
  private val p23Sql = {
    val cases = mvaEdges.init.zipWithIndex.reverse
      .map { case (e, i) => s"WHEN (value % 1.0) >= $e THEN ${i + 1}" }
      .mkString(" ")
    s"""SELECT event_id, CAST(value % 1.0 AS REAL) AS score,
       | CASE $cases ELSE 0 END AS mva_bin
       |FROM events ORDER BY event_id""".stripMargin
  }

  // ---- p24: NaN/null normalization (P24) ---------------------------------
  // reference: stage2/postprocessor.py:79-81 — wgt_* -> 0, others -> -999.
  private def p24(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val masked = ev.select(col("event_id"),
      when(col("value") > 100.0, col("value")).as("obs"),
      when(col("event_type") === "purchase", col("value")).as("wgt"))
    masked.na.fill(Map("obs" -> -999.0, "wgt" -> 0.0))
      .select(col("event_id"), col("obs").cast("float").as("obs"),
              col("wgt").cast("float").as("wgt"))
      .orderBy(col("event_id"))
  }
  private val p24Sql =
    """SELECT event_id,
      | CAST(COALESCE(CASE WHEN value > 100.0 THEN value END, -999.0) AS REAL) AS obs,
      | CAST(COALESCE(CASE WHEN event_type = 'purchase' THEN value END, 0.0) AS REAL) AS wgt
      |FROM events ORDER BY event_id""".stripMargin

  // ---- p25: GoldenJSON certified-lumi filter from the reference's file ------
  // The REAL lumimask input path (config/parameters.py:34-38 points
  // stage-1's event filter at data/lumimasks/Cert_314472-..._JSON.txt;
  // the reference applies it as coffea's LumiMask): 478 runs, 760
  // [lo, hi] certified-lumi intervals, parsed driver-side with Jackson
  // and broadcast as an interval table — the tiny-config shape of l16.
  // Events get a deterministic (run, lumi) from event_id (runs drawn
  // from the file's own run list so the mask is exercised, lumis
  // spread over [1, 3000] so both certified and rejected lumis occur);
  // certification is a broadcast semi join on run + lumi-in-interval.
  // Oracle = independently parsed literal mask + full SQL replay.
  // Output: per run-thousand era bucket, events seen vs certified.
  private lazy val goldenMask: Seq[(Int, Int, Int)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(new java.io.File(refData(
      "lumimasks/Cert_314472-325175_13TeV_17SeptEarlyReReco2018ABC_PromptEraD_Collisions18_JSON.txt")))
    val out = Seq.newBuilder[(Int, Int, Int)]
    root.fieldNames().forEachRemaining { run =>
      val ivs = root.get(run)
      (0 until ivs.size()).foreach { i =>
        out += ((run.toInt, ivs.get(i).get(0).asInt(), ivs.get(i).get(1).asInt()))
      }
    }
    out.result().sorted
  }
  private def p26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mask = goldenMask.toDF("run", "lo", "hi")
    val runIdx = goldenMask.map(_._1).distinct.sorted.zipWithIndex
      .map { case (r, i) => (i, r) }.toDF("idx", "run")
    val nRuns = goldenMask.map(_._1).distinct.size
    val ev = rd(s, dir, "events")
      .select(col("event_id"),
        (col("event_id") % nRuns).cast("int").as("idx"),
        (lit(1) + (col("event_id") * 7919) % 3000).cast("int").as("lumi"))
      .join(broadcast(runIdx), Seq("idx"))
    val cert = ev.join(broadcast(mask),
        ev("run") === mask("run") &&
          col("lumi") >= col("lo") && col("lumi") <= col("hi"),
        "left_semi")
      .groupBy(expr("run div 1000").cast("int").as("era_kr"))
      .agg(count(lit(1)).as("n_certified"))
    val tot = ev.groupBy(expr("run div 1000").cast("int").as("era_kr"))
      .agg(count(lit(1)).as("n_events"))
    tot.join(cert, Seq("era_kr"), "left")
      .select(col("era_kr"), col("n_events"),
        coalesce(col("n_certified"), lit(0L)).as("n_certified"))
      .orderBy(col("era_kr"))
  }
  private val p26Sql =
    """WITH mask(run, lo, hi) AS (VALUES
      |(315257,1,88),(315257,91,92),(315259,1,172),(315264,32,261),(315265,4,58),(315267,1,244),
      |(315270,1,633),(315322,23,118),(315322,122,1354),(315339,37,654),(315357,44,732),
      |(315357,736,770),(315357,780,831),(315361,40,619),(315363,1,35),(315363,37,47),(315363,49,67),
      |(315363,69,80),(315363,82,90),(315366,10,61),(315366,67,750),(315420,28,920),(315420,924,942),
      |(315420,954,1748),(315488,42,843),(315489,1,653),(315489,672,709),(315490,1,24),
      |(315506,13,100),(315510,1,345),(315512,1,1122),(315543,55,171),(315555,22,97),(315556,1,26),
      |(315557,1,279),(315640,46,87),(315641,1,4),(315642,1,92),(315644,1,184),(315645,1,40),
      |(315645,47,390),(315645,395,565),(315645,567,594),(315646,1,1033),(315647,1,58),(315648,1,110),
      |(315689,24,1127),(315689,1180,1186),(315690,10,654),(315702,38,113),(315703,1,545),
      |(315704,1,61),(315705,1,700),(315713,35,359),(315713,374,385),(315713,400,1123),(315721,33,50),
      |(315721,56,626),(315741,34,92),(315764,37,309),(315770,39,332),(315784,29,33),(315784,40,156),
      |(315784,158,161),(315785,1,198),(315785,201,305),(315786,1,72),(315790,1,716),(315790,718,922),
      |(315800,41,621),(315801,1,344),(315840,33,1154),(315973,39,240),(315973,262,914),(315974,1,71),
      |(316058,42,405),(316059,1,321),(316059,323,567),(316060,1,935),(316061,1,23),(316061,194,206),
      |(316062,1,4),(316082,37,407),(316110,1,210),(316111,1,48),(316113,1,64),(316114,1,777),
      |(316114,779,1562),(316153,1,770),(316186,38,81),(316187,1,1091),(316187,1093,1100),
      |(316187,1207,2077),(316199,33,1197),(316200,1,10),(316201,1,498),(316202,1,403),
      |(316216,25,466),(316217,1,264),(316218,1,1008),(316219,1,283),(316239,38,626),(316240,1,1224),
      |(316241,1,325),(316271,36,121),(316361,22,124),(316361,126,131),(316361,133,135),
      |(316361,137,137),(316361,139,142),(316361,144,145),(316361,147,147),(316361,149,159),
      |(316361,161,174),(316361,176,178),(316361,180,189),(316361,191,197),(316361,199,208),
      |(316361,210,223),(316362,1,208),(316362,210,212),(316362,214,225),(316362,227,242),
      |(316362,244,269),(316362,271,319),(316362,332,392),(316362,394,395),(316362,397,402),
      |(316362,404,404),(316362,406,410),(316362,412,412),(316362,414,418),(316362,420,428),
      |(316362,430,450),(316363,1,39),(316363,41,49),(316377,19,19),(316377,21,40),(316378,1,29),
      |(316379,1,70),(316380,1,708),(316380,714,1213),(316455,36,71),(316457,1,1454),(316469,17,444),
      |(316470,1,476),(316472,1,70),(316472,76,333),(316505,44,205),(316505,207,921),
      |(316505,923,1364),(316569,20,703),(316569,742,1945),(316590,17,526),(316613,49,241),
      |(316615,1,338),(316666,1,981),(316667,1,197),(316700,46,346),(316700,388,397),(316701,1,479),
      |(316702,1,388),(316715,33,45),(316716,1,181),(316717,1,192),(316718,1,311),(316719,1,91),
      |(316719,100,144),(316720,1,182),(316721,1,15),(316722,1,751),(316723,1,64),(316758,11,1609),
      |(316766,51,1920),(316766,1922,2199),(316876,34,38),(316876,40,644),(316877,1,164),
      |(316877,171,401),(316879,1,156),(316928,40,188),(316985,33,503),(316993,44,254),(316994,1,14),
      |(316995,1,623),(317080,41,66),(317087,43,177),(317087,213,222),(317087,257,852),
      |(317089,1,1003),(317182,47,63),(317182,65,1424),(317212,36,175),(317213,1,375),(317279,43,508),
      |(317291,34,824),(317292,1,330),(317297,1,283),(317297,347,760),(317319,44,182),(317320,1,326),
      |(317320,333,411),(317320,413,1827),(317338,66,107),(317339,1,163),(317340,1,418),
      |(317382,58,128),(317383,1,58),(317391,39,46),(317392,1,1116),(317392,1119,1900),
      |(317435,1,1397),(317438,1,68),(317438,71,309),(317475,33,89),(317475,105,115),(317478,1,23),
      |(317484,1,448),(317484,467,514),(317484,519,545),(317488,1,844),(317527,41,1487),
      |(317591,43,334),(317626,40,2045),(317640,29,829),(317641,1,1390),(317648,45,139),
      |(317649,1,621),(317650,1,1304),(317661,35,1256),(317663,1,858),(317683,83,402),(317696,38,682),
      |(318733,1,33),(318828,54,123),(318872,16,287),(318874,1,320),(318876,1,161),(318877,1,615),
      |(319077,52,92),(319337,48,2240),(319347,40,690),(319348,1,37),(319349,1,148),(319449,35,559),
      |(319449,562,734),(319450,1,287),(319450,290,683),(319456,138,346),(319459,1,78),
      |(319486,38,103),(319503,1,317),(319524,36,1459),(319526,1,282),(319528,1,259),(319579,41,3168),
      |(319625,17,206),(319639,31,1509),(319656,51,310),(319657,1,167),(319658,1,225),(319659,1,87),
      |(319678,36,294),(319687,46,90),(319697,47,482),(319697,490,490),(319698,1,312),
      |(319756,44,1966),(319840,41,388),(319841,1,167),(319847,49,51),(319848,1,53),(319849,1,492),
      |(319851,1,4),(319853,1,40),(319853,47,262),(319854,1,225),(319908,1,40),(319908,43,53),
      |(319909,1,7),(319910,1,983),(319912,1,59),(319913,1,56),(319914,1,32),(319915,1,416),
      |(319941,43,298),(319942,1,50),(319950,38,205),(319991,46,882),(319992,1,264),(319993,1,955),
      |(320002,52,192),(320006,1,34),(320006,36,341),(320010,1,330),(320011,1,302),(320012,1,99),
      |(320023,17,292),(320024,1,410),(320025,1,113),(320026,1,204),(320038,43,663),(320039,1,30),
      |(320040,1,737),(320059,1,105),(320060,1,42),(320061,1,49),(320062,1,21),(320063,1,64),
      |(320064,1,200),(320065,1,920),(320673,35,901),(320674,1,599),(320688,49,531),(320712,39,242),
      |(320757,51,382),(320804,46,1274),(320807,1,7),(320809,1,716),(320821,41,221),(320822,1,523),
      |(320823,1,360),(320824,1,1051),(320838,93,357),(320840,1,471),(320841,1,205),(320853,41,369),
      |(320854,1,125),(320855,1,565),(320856,1,159),(320857,1,272),(320858,1,230),(320859,1,40),
      |(320887,49,321),(320888,1,26),(320916,2,25),(320917,1,1926),(320920,1,178),(320933,40,214),
      |(320934,1,831),(320936,1,407),(320941,1,93),(320980,44,142),(320995,26,214),(320996,1,380),
      |(321004,39,188),(321005,1,61),(321006,1,162),(321007,1,831),(321009,1,85),(321010,1,342),
      |(321011,1,213),(321012,1,35),(321012,190,201),(321051,58,1179),(321055,1,302),(321055,304,326),
      |(321055,328,340),(321055,368,759),(321067,39,225),(321067,232,639),(321068,1,715),
      |(321069,1,313),(321119,45,214),(321121,1,47),(321122,1,395),(321124,1,819),(321126,1,493),
      |(321134,33,70),(321138,1,741),(321140,1,798),(321149,35,1424),(321149,1426,1476),
      |(321149,1478,1553),(321149,1558,1576),(321149,1578,1588),(321149,1591,1743),(321165,1,8),
      |(321166,1,10),(321167,1,141),(321167,143,143),(321167,145,510),(321167,512,552),
      |(321167,554,691),(321167,693,923),(321177,38,74),(321177,77,214),(321177,216,232),
      |(321177,234,247),(321177,249,321),(321177,323,365),(321177,367,455),(321178,5,78),
      |(321218,49,962),(321219,1,934),(321221,1,40),(321230,41,124),(321231,1,59),(321232,1,30),
      |(321233,1,727),(321262,1,4),(321283,48,357),(321294,1,62),(321295,1,307),(321295,309,316),
      |(321295,318,384),(321295,390,394),(321295,396,604),(321295,606,616),(321295,619,646),
      |(321295,649,690),(321295,693,754),(321296,1,24),(321296,34,41),(321296,44,67),(321305,20,2600),
      |(321305,2605,2651),(321311,1,10),(321312,1,768),(321313,1,408),(321393,1,127),(321393,134,148),
      |(321396,1,1475),(321397,1,365),(321414,31,1283),(321415,1,804),(321431,30,189),(321432,1,47),
      |(321433,1,125),(321434,1,642),(321436,1,710),(321457,43,451),(321457,453,1888),(321461,1,149),
      |(321475,50,518),(321475,526,2084),(321710,1,57),(321712,1,2),(321712,16,54),(321712,57,115),
      |(321712,117,263),(321730,2,257),(321730,259,291),(321732,1,127),(321732,129,181),
      |(321732,185,189),(321732,192,245),(321732,248,252),(321732,254,373),(321732,375,381),
      |(321732,386,386),(321732,389,392),(321732,395,424),(321732,426,432),(321732,434,448),
      |(321732,450,452),(321732,454,459),(321732,467,586),(321732,589,680),(321732,682,686),
      |(321732,689,903),(321732,905,973),(321732,975,1448),(321735,1,146),(321755,33,361),
      |(321755,363,470),(321755,472,473),(321755,475,487),(321755,489,729),(321758,1,47),
      |(321758,49,75),(321758,77,121),(321758,128,130),(321758,146,148),(321758,151,155),
      |(321758,161,165),(321758,168,189),(321760,1,171),(321760,175,205),(321760,207,238),
      |(321760,240,258),(321760,260,420),(321760,422,520),(321760,526,586),(321760,588,593),
      |(321760,598,602),(321760,604,607),(321760,613,716),(321760,719,721),(321760,727,788),
      |(321760,794,818),(321760,822,824),(321760,828,830),(321760,834,836),(321760,840,841),
      |(321760,845,855),(321773,11,14),(321773,25,35),(321773,39,52),(321773,54,79),(321774,1,12),
      |(321774,14,52),(321774,54,119),(321775,1,12),(321775,14,14),(321776,1,12),(321776,15,19),
      |(321776,30,45),(321777,1,81),(321777,83,169),(321777,174,176),(321777,192,207),(321778,8,150),
      |(321780,1,332),(321780,336,338),(321780,342,346),(321780,351,357),(321780,359,360),
      |(321780,362,371),(321780,374,383),(321780,392,412),(321780,414,420),(321780,422,493),
      |(321780,496,499),(321780,502,503),(321780,505,508),(321780,517,518),(321781,6,37),
      |(321781,53,56),(321781,58,66),(321781,69,69),(321781,77,180),(321781,186,209),(321781,212,265),
      |(321781,269,274),(321781,276,290),(321781,293,312),(321781,316,410),(321781,412,427),
      |(321813,32,352),(321815,1,23),(321817,1,536),(321818,1,690),(321820,1,214),(321831,25,781),
      |(321832,1,389),(321832,403,510),(321833,1,407),(321834,1,333),(321879,39,47),(321879,50,52),
      |(321879,55,68),(321879,71,73),(321879,77,89),(321879,93,95),(321879,99,111),(321879,114,116),
      |(321879,120,132),(321879,136,138),(321879,141,154),(321879,157,159),(321879,163,175),
      |(321879,178,181),(321879,185,197),(321879,200,202),(321879,207,218),(321879,222,356),
      |(321880,1,41),(321880,44,132),(321887,54,948),(321908,43,472),(321909,1,208),(321909,210,1654),
      |(321917,4,156),(321917,164,808),(321919,1,6),(321933,43,232),(321933,235,326),(321960,18,47),
      |(321961,1,354),(321973,37,746),(321973,748,968),(321973,972,1253),(321975,1,866),
      |(321988,45,996),(321988,1106,1486),(321990,1,471),(322013,14,22),(322014,1,17),(322022,42,185),
      |(322022,201,1805),(322040,32,70),(322057,38,58),(322068,51,724),(322079,39,200),
      |(322079,216,393),(322079,409,428),(322106,48,871),(322113,48,159),(322118,1,516),
      |(322118,530,874),(322179,43,820),(322179,823,1783),(322201,39,266),(322204,1,280),
      |(322204,282,301),(322204,303,331),(322204,337,1143),(322222,1,526),(322252,42,1586),
      |(322317,48,101),(322319,1,163),(322322,1,170),(322322,267,1205),(322324,1,416),
      |(322332,37,1055),(322348,40,1505),(322355,36,137),(322356,1,779),(322381,45,577),
      |(322407,46,582),(322430,46,501),(322431,59,1166),(322480,60,408),(322492,1,1386),
      |(322510,37,45),(322599,43,294),(322602,1,69),(322602,72,72),(322603,1,10),(322605,1,280),
      |(322617,1,601),(322625,41,484),(322625,492,1167),(322633,1,249),(323414,1,46),(323423,1,136),
      |(323470,38,172),(323470,176,218),(323470,223,266),(323471,1,238),(323472,1,64),(323473,1,227),
      |(323474,1,355),(323475,1,77),(323487,42,177),(323487,184,498),(323488,1,514),(323488,555,734),
      |(323488,738,793),(323492,1,33),(323493,1,144),(323495,1,187),(323524,25,561),(323525,1,91),
      |(323525,97,1126),(323526,1,248),(323526,253,466),(323693,38,151),(323696,1,257),(323702,1,808),
      |(323725,18,346),(323726,1,60),(323727,1,83),(323727,88,677),(323727,682,813),(323727,819,822),
      |(323727,826,987),(323755,27,815),(323755,818,823),(323755,826,826),(323755,828,830),
      |(323755,833,861),(323755,864,964),(323775,38,81),(323775,84,171),(323778,1,934),
      |(323790,45,948),(323794,1,68),(323841,46,510),(323857,1,357),(323940,49,1567),(323954,1,77),
      |(323976,31,85),(323978,1,73),(323980,1,202),(323983,1,188),(323997,1,498),(324021,44,819),
      |(324022,1,554),(324077,54,710),(324077,712,753),(324201,20,834),(324201,837,1385),
      |(324202,1,240),(324205,1,163),(324206,1,149),(324207,1,34),(324209,1,142),(324237,33,236),
      |(324245,23,1681),(324293,39,1440),(324293,1442,2176),(324293,2178,2342),(324315,1,200),
      |(324315,203,204),(324318,1,332),(324420,1,625),(324729,1,193),(324747,63,1139),(324764,1,150),
      |(324765,1,481),(324769,1,328),(324772,1,165),(324785,77,664),(324791,1,1217),(324835,40,230),
      |(324835,302,369),(324840,1,96),(324841,1,1347),(324846,1,151),(324846,154,517),(324878,62,111),
      |(324878,113,175),(324878,180,1800),(324897,30,170),(324970,1,425),(324970,428,598),
      |(324970,606,632),(324970,634,1529),(324970,1532,2195),(324980,39,917),(324980,919,954),
      |(324980,956,968),(324980,1005,1042),(324980,1044,2340),(324997,29,150),(324998,1,368),
      |(324999,1,14),(325000,1,371),(325001,1,105),(325001,108,171),(325001,173,595),(325022,45,1594),
      |(325057,42,383),(325097,40,96),(325098,1,8),(325099,1,394),(325100,1,254),(325101,1,462),
      |(325101,464,485),(325110,1,21),(325117,1,533),(325159,48,266),(325168,1,21),(325169,1,23),
      |(325170,1,692),(325170,694,1205),(325172,1,267),(325172,269,485)),
      |runidx(idx, run) AS (VALUES
      |(0,315257),(1,315259),(2,315264),(3,315265),(4,315267),(5,315270),(6,315322),(7,315339),
      |(8,315357),(9,315361),(10,315363),(11,315366),(12,315420),(13,315488),(14,315489),(15,315490),
      |(16,315506),(17,315510),(18,315512),(19,315543),(20,315555),(21,315556),(22,315557),
      |(23,315640),(24,315641),(25,315642),(26,315644),(27,315645),(28,315646),(29,315647),
      |(30,315648),(31,315689),(32,315690),(33,315702),(34,315703),(35,315704),(36,315705),
      |(37,315713),(38,315721),(39,315741),(40,315764),(41,315770),(42,315784),(43,315785),
      |(44,315786),(45,315790),(46,315800),(47,315801),(48,315840),(49,315973),(50,315974),
      |(51,316058),(52,316059),(53,316060),(54,316061),(55,316062),(56,316082),(57,316110),
      |(58,316111),(59,316113),(60,316114),(61,316153),(62,316186),(63,316187),(64,316199),
      |(65,316200),(66,316201),(67,316202),(68,316216),(69,316217),(70,316218),(71,316219),
      |(72,316239),(73,316240),(74,316241),(75,316271),(76,316361),(77,316362),(78,316363),
      |(79,316377),(80,316378),(81,316379),(82,316380),(83,316455),(84,316457),(85,316469),
      |(86,316470),(87,316472),(88,316505),(89,316569),(90,316590),(91,316613),(92,316615),
      |(93,316666),(94,316667),(95,316700),(96,316701),(97,316702),(98,316715),(99,316716),
      |(100,316717),(101,316718),(102,316719),(103,316720),(104,316721),(105,316722),(106,316723),
      |(107,316758),(108,316766),(109,316876),(110,316877),(111,316879),(112,316928),(113,316985),
      |(114,316993),(115,316994),(116,316995),(117,317080),(118,317087),(119,317089),(120,317182),
      |(121,317212),(122,317213),(123,317279),(124,317291),(125,317292),(126,317297),(127,317319),
      |(128,317320),(129,317338),(130,317339),(131,317340),(132,317382),(133,317383),(134,317391),
      |(135,317392),(136,317435),(137,317438),(138,317475),(139,317478),(140,317484),(141,317488),
      |(142,317527),(143,317591),(144,317626),(145,317640),(146,317641),(147,317648),(148,317649),
      |(149,317650),(150,317661),(151,317663),(152,317683),(153,317696),(154,318733),(155,318828),
      |(156,318872),(157,318874),(158,318876),(159,318877),(160,319077),(161,319337),(162,319347),
      |(163,319348),(164,319349),(165,319449),(166,319450),(167,319456),(168,319459),(169,319486),
      |(170,319503),(171,319524),(172,319526),(173,319528),(174,319579),(175,319625),(176,319639),
      |(177,319656),(178,319657),(179,319658),(180,319659),(181,319678),(182,319687),(183,319697),
      |(184,319698),(185,319756),(186,319840),(187,319841),(188,319847),(189,319848),(190,319849),
      |(191,319851),(192,319853),(193,319854),(194,319908),(195,319909),(196,319910),(197,319912),
      |(198,319913),(199,319914),(200,319915),(201,319941),(202,319942),(203,319950),(204,319991),
      |(205,319992),(206,319993),(207,320002),(208,320006),(209,320010),(210,320011),(211,320012),
      |(212,320023),(213,320024),(214,320025),(215,320026),(216,320038),(217,320039),(218,320040),
      |(219,320059),(220,320060),(221,320061),(222,320062),(223,320063),(224,320064),(225,320065),
      |(226,320673),(227,320674),(228,320688),(229,320712),(230,320757),(231,320804),(232,320807),
      |(233,320809),(234,320821),(235,320822),(236,320823),(237,320824),(238,320838),(239,320840),
      |(240,320841),(241,320853),(242,320854),(243,320855),(244,320856),(245,320857),(246,320858),
      |(247,320859),(248,320887),(249,320888),(250,320916),(251,320917),(252,320920),(253,320933),
      |(254,320934),(255,320936),(256,320941),(257,320980),(258,320995),(259,320996),(260,321004),
      |(261,321005),(262,321006),(263,321007),(264,321009),(265,321010),(266,321011),(267,321012),
      |(268,321051),(269,321055),(270,321067),(271,321068),(272,321069),(273,321119),(274,321121),
      |(275,321122),(276,321124),(277,321126),(278,321134),(279,321138),(280,321140),(281,321149),
      |(282,321165),(283,321166),(284,321167),(285,321177),(286,321178),(287,321218),(288,321219),
      |(289,321221),(290,321230),(291,321231),(292,321232),(293,321233),(294,321262),(295,321283),
      |(296,321294),(297,321295),(298,321296),(299,321305),(300,321311),(301,321312),(302,321313),
      |(303,321393),(304,321396),(305,321397),(306,321414),(307,321415),(308,321431),(309,321432),
      |(310,321433),(311,321434),(312,321436),(313,321457),(314,321461),(315,321475),(316,321710),
      |(317,321712),(318,321730),(319,321732),(320,321735),(321,321755),(322,321758),(323,321760),
      |(324,321773),(325,321774),(326,321775),(327,321776),(328,321777),(329,321778),(330,321780),
      |(331,321781),(332,321813),(333,321815),(334,321817),(335,321818),(336,321820),(337,321831),
      |(338,321832),(339,321833),(340,321834),(341,321879),(342,321880),(343,321887),(344,321908),
      |(345,321909),(346,321917),(347,321919),(348,321933),(349,321960),(350,321961),(351,321973),
      |(352,321975),(353,321988),(354,321990),(355,322013),(356,322014),(357,322022),(358,322040),
      |(359,322057),(360,322068),(361,322079),(362,322106),(363,322113),(364,322118),(365,322179),
      |(366,322201),(367,322204),(368,322222),(369,322252),(370,322317),(371,322319),(372,322322),
      |(373,322324),(374,322332),(375,322348),(376,322355),(377,322356),(378,322381),(379,322407),
      |(380,322430),(381,322431),(382,322480),(383,322492),(384,322510),(385,322599),(386,322602),
      |(387,322603),(388,322605),(389,322617),(390,322625),(391,322633),(392,323414),(393,323423),
      |(394,323470),(395,323471),(396,323472),(397,323473),(398,323474),(399,323475),(400,323487),
      |(401,323488),(402,323492),(403,323493),(404,323495),(405,323524),(406,323525),(407,323526),
      |(408,323693),(409,323696),(410,323702),(411,323725),(412,323726),(413,323727),(414,323755),
      |(415,323775),(416,323778),(417,323790),(418,323794),(419,323841),(420,323857),(421,323940),
      |(422,323954),(423,323976),(424,323978),(425,323980),(426,323983),(427,323997),(428,324021),
      |(429,324022),(430,324077),(431,324201),(432,324202),(433,324205),(434,324206),(435,324207),
      |(436,324209),(437,324237),(438,324245),(439,324293),(440,324315),(441,324318),(442,324420),
      |(443,324729),(444,324747),(445,324764),(446,324765),(447,324769),(448,324772),(449,324785),
      |(450,324791),(451,324835),(452,324840),(453,324841),(454,324846),(455,324878),(456,324897),
      |(457,324970),(458,324980),(459,324997),(460,324998),(461,324999),(462,325000),(463,325001),
      |(464,325022),(465,325057),(466,325097),(467,325098),(468,325099),(469,325100),(470,325101),
      |(471,325110),(472,325117),(473,325159),(474,325168),(475,325169),(476,325170),(477,325172)),
      |ev AS (
      | SELECT e.event_id, r.run,
      |  CAST(1 + (e.event_id * 7919) % 3000 AS INT) AS lumi
      | FROM events e JOIN runidx r
      |   ON r.idx = CAST(e.event_id % 478 AS INT)),
      |cert AS (
      | SELECT CAST(ev.run // 1000 AS INT) AS era_kr, COUNT(*) AS n_certified
      | FROM ev WHERE EXISTS (
      |  SELECT 1 FROM mask m WHERE m.run = ev.run
      |   AND ev.lumi >= m.lo AND ev.lumi <= m.hi)
      | GROUP BY 1),
      |tot AS (
      | SELECT CAST(run // 1000 AS INT) AS era_kr, COUNT(*) AS n_events
      | FROM ev GROUP BY 1)
      |SELECT t.era_kr, t.n_events, COALESCE(c.n_certified, 0) AS n_certified
      |FROM tot t LEFT JOIN cert c USING (era_kr)
      |ORDER BY t.era_kr""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p02_flag_and" -> (p02 _),
    "p03_trigger_or" -> (p03 _),
    "p04_lumimask_interval" -> (p04 _),
    "p26_golden_lumimask" -> (p26 _),
    "p05_object_selection" -> (p05 _),
    "p06_veto_antijoin" -> (p06 _),
    "p07_bit_selection" -> (p07 _),
    "p08_region_label" -> (p08 _),
    "p09_channel_cascade" -> (p09 _),
    "p10_p4_sum" -> (p10 _),
    "p11_delta_r" -> (p11 _),
    "p13_cs_angles" -> (p13 _),
    "p17_vbf_kinematics" -> (p17 _),
    "p18_fsr_recovery" -> (p18 _),
    "p25_tag_probe" -> (p25 _),
    "p19_geofit_piecewise" -> (p19 _),
    "p21_gen_split" -> (p21 _),
    "p22_relabel" -> (p22 _),
    "p23_digitize" -> (p23 _),
    "p24_nan_fill" -> (p24 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "p02_flag_and" -> p02Sql,
    "p03_trigger_or" -> p03Sql,
    "p04_lumimask_interval" -> p04Sql,
    "p26_golden_lumimask" -> p26Sql,
    "p05_object_selection" -> p05Sql,
    "p06_veto_antijoin" -> p06Sql,
    "p07_bit_selection" -> p07Sql,
    "p08_region_label" -> p08Sql,
    "p09_channel_cascade" -> p09Sql,
    "p10_p4_sum" -> p10Sql,
    "p11_delta_r" -> p11Sql,
    "p13_cs_angles" -> p13Sql,
    "p17_vbf_kinematics" -> p17Sql,
    "p18_fsr_recovery" -> p18Sql,
    "p25_tag_probe" -> p25Sql,
    "p19_geofit_piecewise" -> p19Sql,
    "p21_gen_split" -> p21Sql,
    "p22_relabel" -> p22Sql,
    "p23_digitize" -> p23Sql,
    "p24_nan_fill" -> p24Sql
  ).view
}
