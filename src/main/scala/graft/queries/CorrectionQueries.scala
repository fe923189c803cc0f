package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TFormula
import graft.lookup.JecTextTables

/** Formula-payload correction operators — the reference families whose
  * calibration payloads are TFormula STRINGS inside public CMS data
  * files, closed here with the real files end to end:
  *
  *  - l20: the DeepCSV reshape-central btag SF splines
  *    (`/root/reference/stage1/corrections/btag_weights.py:4-61`,
  *    `data/btag/DeepCSV_102XSF_V1.csv` — the reference builds a
  *    coffea `BTagScaleFactor(csv, RESHAPE)` in
  *    `stage1/processor.py:766-768` and per-event products the SFs);
  *  - l21: the Autumn18 MC JEC level chain
  *    L1FastJet -> L2Relative -> L3Absolute
  *    (`stage1/corrections/jec.py:6-181`,
  *    `config/jec_parameters.py jec_levels_mc`,
  *    `data/jec/Autumn18_V19_MC_L{1,2,3}*.jec.txt`).
  *
  * Engine design: each payload file is parsed ONCE on the driver
  * (graft.lookup.JecTextTables / the CSV reader below), formulas go
  * through graft.functions.TFormula into codegen'd Column trees, and
  * the per-row tables become broadcast DataFrames joined by
  * index-arithmetic equi keys (bin index = count of bin-lows <= x over
  * a literal sorted array) — BroadcastHashJoin, zero shuffle on the
  * event side, the same plan shape at 100 TB. The DuckDB oracles read
  * fixture CSVs produced by an INDEPENDENT Python parse of the same
  * files (tools/gen_jec_fixtures.py) and replay the formulas as SQL
  * rendered from the same parse tree (TFormula.toSql — identical
  * association order), so the driver's hash compare proves two parses
  * and two evaluation engines agree on the real payloads.
  */
object CorrectionQueries extends QueryFamily {

  /** Bin index by count-of-lows <= x over a literal sorted bounds
    * array: equivalent to a [lo, hi) range match when the bins are a
    * contiguous partition (JecTextTables checks that), but joinable as
    * an EQUI key — BroadcastHashJoin instead of a nested-loop range
    * join. -1 / size-1 for x outside; callers left-join + coalesce.
    * Evaluated by the codegen'd SortedLowerCount kernel — the previous
    * `size(filter(typedLit(...)))` HOF spelling was CodegenFallback and
    * interpreted the whole projection (r15 measurement: 3 such columns
    * over 600k rows were most of l23's 2.6 s). */
  private def binIdx(x: Column, lows: Seq[Double]): Column =
    org.apache.spark.sql.classic.GraftBridge.column(
      graft.plans.SortedLowerCount(
        org.apache.spark.sql.classic.GraftBridge.expression(x), lows)) - 1

  private def clampc(x: Column, lo: Column, hi: Column): Column =
    least(greatest(x, lo), hi)

  // ---- l20: DeepCSV reshape-central btag SF from the real CSV -------------
  // The payload rows (OperatingPoint=3 "reshape", measurement
  // "iterativefit", sysType "central"; 139 rows) bin by (jetFlavor,
  // eta, pt, discr) and carry the SF as a formula in x = discr. Every
  // central formula is the file's own Horner nesting (constant, linear,
  // or degree-6) — TFormula.parse + hornerCoeffs extracts the LITERAL
  // coefficients structurally (no algebra), and one shared Horner
  // Column evaluates all rows, so the per-jet cost is seven fused
  // multiply-adds regardless of row. Jets join the broadcast 139-row
  // table on the flavor equi key (ranges as join condition), then the
  // per-event weight is the l19-pattern log-space product with the
  // reference's guards (prod -> fillna 1 -> w < 0.01 -> 1,
  // btag_weights.py:19-21). hadronFlavour maps 5->0, 4->1, 0->2 (the
  // coffea BTagScaleFactor flavor convention the reference relies on).
  private lazy val btagRows: Seq[(Int, Double, Double, Double, Double, Double,
      Double, Double, Double, Double, Double, Double, Double, Double)] = {
    val src = scala.io.Source.fromFile(refData("btag/DeepCSV_102XSF_V1.csv"))
    val lines = try src.getLines().drop(1).toVector finally src.close()
    lines.flatMap { l =>
      val t = l.split(",", 11).map(_.trim)
      if (t.length == 11 && t(0) == "3" && t(1) == "iterativefit" &&
          t(2) == "central") {
        val formula = t(10).stripPrefix("\"").stripSuffix("\"").trim
        val ast = TFormula.parse(formula)
        val c = ast.hornerCoeffs.getOrElse(
          throw new IllegalStateException(s"non-Horner btag formula: $formula"))
        require(c.size <= 7, s"degree > 6: $formula")
        val p = c.padTo(7, 0.0)
        Some((t(3).toInt, t(4).toDouble, t(5).toDouble, t(6).toDouble,
          t(7).toDouble, t(8).toDouble, t(9).toDouble,
          p(0), p(1), p(2), p(3), p(4), p(5), p(6)))
      } else None
    }
  }

  /** Shared jet synthesis (Spark + SQL spellings kept in lockstep):
    * flavor cycles b/c/light, abseta in [0, 2.49], pt in [20, 920),
    * discr in [0, 1). */
  private def l20Jets(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem").select(
      col("l_orderkey").as("event"),
      expr("CAST(CASE CAST(l_linenumber % 3 AS INT) WHEN 0 THEN 5 WHEN 1 THEN 4 ELSE 0 END AS INT)").as("had_flav"),
      expr("CAST(CASE CAST(l_linenumber % 3 AS INT) WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END AS INT)").as("flavor"),
      expr("CAST(l_partkey % 250 AS DOUBLE) / 100.0").as("abseta"),
      expr("20.0 + CAST(l_suppkey % 9000 AS DOUBLE) / 10.0").as("pt"),
      expr("CAST(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) % 997 AS DOUBLE) / 997.0").as("discr"))
  private val l20JetsSql =
    """SELECT l_orderkey AS event,
      | CAST(CASE CAST(l_linenumber % 3 AS INT) WHEN 0 THEN 5 WHEN 1 THEN 4 ELSE 0 END AS INT) AS had_flav,
      | CAST(CASE CAST(l_linenumber % 3 AS INT) WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END AS INT) AS flavor,
      | CAST(l_partkey % 250 AS DOUBLE) / 100.0 AS abseta,
      | 20.0 + CAST(l_suppkey % 9000 AS DOUBLE) / 10.0 AS pt,
      | CAST(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) % 997 AS DOUBLE) / 997.0 AS discr
      |FROM lineitem""".stripMargin

  private def l20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = btagRows.toDF("flavor", "eta_lo", "eta_hi", "pt_lo", "pt_hi",
      "d_lo", "d_hi", "c0", "c1", "c2", "c3", "c4", "c5", "c6")
    val jets = l20Jets(s, dir)
    // reference clamps jet pt at 1000 before the lookup
    // (btag_weights.py:8); a no-op on this domain but kept for fidelity
    val ptc = least(col("pt"), lit(1000.0))
    val joined = jets.join(broadcast(tbl),
      jets("flavor") === tbl("flavor") &&
        col("abseta") >= col("eta_lo") && col("abseta") < col("eta_hi") &&
        ptc >= col("pt_lo") && ptc < col("pt_hi") &&
        col("discr") >= col("d_lo") && col("discr") < col("d_hi"))
    val x = clampc(col("discr"), col("d_lo"), col("d_hi"))
    val sf = col("c0") + x * (col("c1") + x * (col("c2") + x * (col("c3") +
      x * (col("c4") + x * (col("c5") + x * col("c6"))))))
    joined
      .select(col("event"),
        floor(log(sf) * lit(1e9) + lit(0.5)).cast("long").as("lnq"))
      .groupBy(col("event"))
      .agg(count(lit(1)).as("n_jets"), sum(col("lnq")).as("ln_nano_sum"))
      .select(col("event"), col("n_jets"), col("ln_nano_sum"),
        expr("CAST(CASE WHEN EXP(CAST(ln_nano_sum AS DOUBLE) / 1e9) < 0.01 " +
          "THEN 1.0 ELSE EXP(CAST(ln_nano_sum AS DOUBLE) / 1e9) END AS FLOAT)")
          .as("btag_wgt"))
      .orderBy(col("event"))
  }
  private val l20Sql = {
    val csv = s"$fixturesRoot/btag_reshape_central.csv"
    val horner = "(c0 + x * (c1 + x * (c2 + x * (c3 + x * (c4 + x * (c5 + x * c6))))))"
    s"""WITH tbl AS (SELECT * FROM read_csv('$csv', header=true, columns={
       |  'flavor':'INT','eta_lo':'DOUBLE','eta_hi':'DOUBLE',
       |  'pt_lo':'DOUBLE','pt_hi':'DOUBLE','d_lo':'DOUBLE','d_hi':'DOUBLE',
       |  'c0':'DOUBLE','c1':'DOUBLE','c2':'DOUBLE','c3':'DOUBLE',
       |  'c4':'DOUBLE','c5':'DOUBLE','c6':'DOUBLE'})),
       |jets AS ($l20JetsSql),
       |matched AS (
       | SELECT j.event,
       |  LEAST(GREATEST(j.discr, t.d_lo), t.d_hi) AS x,
       |  t.c0, t.c1, t.c2, t.c3, t.c4, t.c5, t.c6
       | FROM jets j JOIN tbl t
       |  ON j.flavor = t.flavor
       |  AND j.abseta >= t.eta_lo AND j.abseta < t.eta_hi
       |  AND LEAST(j.pt, 1000.0) >= t.pt_lo AND LEAST(j.pt, 1000.0) < t.pt_hi
       |  AND j.discr >= t.d_lo AND j.discr < t.d_hi),
       |per AS (
       | SELECT event, COUNT(*) AS n_jets,
       |  CAST(SUM(CAST(FLOOR(LN($horner) * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
       |   AS ln_nano_sum
       | FROM matched GROUP BY 1)
       |SELECT event, n_jets, ln_nano_sum,
       | CAST(CASE WHEN EXP(CAST(ln_nano_sum AS DOUBLE) / 1e9) < 0.01
       |      THEN 1.0 ELSE EXP(CAST(ln_nano_sum AS DOUBLE) / 1e9) END
       |   AS REAL) AS btag_wgt
       |FROM per ORDER BY event""".stripMargin
  }

  // ---- l21: the real Autumn18 MC JEC level chain via TFormula --------------
  // L1FastJet (82 eta bins; formula in x=Rho, y=JetPt, z=JetA, 6
  // params, max/log/pow) -> L2Relative (82 eta x ~24 pt bins; Horner in
  // x=JetPt with an explicit max floor, 5 params) -> L3Absolute (unit).
  // Chain semantics per coffea's factory: each level evaluates at the
  // PREVIOUS level's corrected pt, eval vars clamped to the row's
  // bounds. Plan: two BroadcastHashJoins on bin-index equi keys (the
  // L2 pt range rides along as join condition inside the eta bucket),
  // formulas fully codegen'd — one scan, zero shuffle before the
  // output sort.
  private lazy val jecL1 = JecTextTables.parseLevel(
    refData("jec/Autumn18_V19_MC_L1FastJet_AK4PFchs.jec.txt"))
  private lazy val jecL2 = JecTextTables.parseLevel(
    refData("jec/Autumn18_V19_MC_L2Relative_AK4PFchs.jec.txt"))
  private lazy val jecL3 = JecTextTables.parseLevel(
    refData("jec/Autumn18_V19_MC_L3Absolute_AK4PFchs.jec.txt"))

  private def l21Jets(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
      (col("l_extendedprice") / 1000.0).as("pt_raw"),
      expr("CAST(l_partkey % 1038 AS DOUBLE) / 100.0 - 5.19").as("eta"),
      expr("5.0 + CAST(l_suppkey % 500 AS DOUBLE) / 10.0").as("rho"),
      expr("0.3 + CAST(l_linenumber % 5 AS DOUBLE) / 10.0").as("area"))
  private val l21JetsSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      | l_extendedprice / 1000.0 AS pt_raw,
      | CAST(l_partkey % 1038 AS DOUBLE) / 100.0 - 5.19 AS eta,
      | 5.0 + CAST(l_suppkey % 500 AS DOUBLE) / 10.0 AS rho,
      | 0.3 + CAST(l_linenumber % 5 AS DOUBLE) / 10.0 AS area
      |FROM lineitem""".stripMargin

  private def l21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // L1: one row per eta bin -> (idx, clamps, params)
    val l1df = jecL1.rows.map { r =>
      (jecL1.etaIdx(r.bounds(0)._1),
        r.clamps(0)._1, r.clamps(0)._2, r.clamps(1)._1, r.clamps(1)._2,
        r.clamps(2)._1, r.clamps(2)._2,
        r.params(0), r.params(1), r.params(2), r.params(3), r.params(4), r.params(5))
    }.toDF("e1", "rho_lo", "rho_hi", "cpt_lo", "cpt_hi", "a_lo", "a_hi",
      "p0", "p1", "p2", "p3", "p4", "p5")
    // L2: (etaIdx, pt bin, clamps, params)
    val l2df = jecL2.rows.map { r =>
      (jecL2.etaIdx(r.bounds(0)._1), r.bounds(1)._1, r.bounds(1)._2,
        r.clamps(0)._1, r.clamps(0)._2,
        r.params(0), r.params(1), r.params(2), r.params(3), r.params(4))
    }.toDF("e2", "bpt_lo", "bpt_hi", "x_lo", "x_hi", "q0", "q1", "q2", "q3", "q4")

    val jets = l21Jets(s, dir)
      .withColumn("e1", binIdx(col("eta"), jecL1.etaLows))
      .withColumn("e2", binIdx(col("eta"), jecL2.etaLows))

    val l1Vars: Int => Column = {
      case 0 => clampc(col("rho"), col("rho_lo"), col("rho_hi"))
      case 1 => clampc(col("pt_raw"), col("cpt_lo"), col("cpt_hi"))
      case 2 => clampc(col("area"), col("a_lo"), col("a_hi"))
    }
    val c1 = coalesce(
      TFormula.toColumn(jecL1.formula, l1Vars, i => col(s"p$i")), lit(1.0))
    val s1 = jets.join(broadcast(l1df), Seq("e1"), "left")
      .withColumn("c1", c1)
      .withColumn("pt1", col("pt_raw") * col("c1"))
      .select("l_orderkey", "l_linenumber", "l_extendedprice",
        "eta", "e2", "pt1", "c1")

    val c2 = coalesce(
      TFormula.toColumn(jecL2.formula,
        { case 0 => clampc(col("pt1"), col("x_lo"), col("x_hi")) },
        i => col(s"q$i")), lit(1.0))
    // coffea edge-bin semantics (factorized corrector): a pt1 below the
    // lowest (or at/above the highest) pt bin of its eta slice matches
    // the EDGE bin and evaluates its formula at clamped x, instead of
    // falling out of the join to c2 = 1.0
    val w2 = Window.partitionBy(col("e2"))
    val l2f = l2df
      .withColumn("is_first", col("bpt_lo") === min(col("bpt_lo")).over(w2))
      .withColumn("is_last", col("bpt_hi") === max(col("bpt_hi")).over(w2))
    val s2 = s1.join(broadcast(l2f),
        s1("e2") === l2f("e2") &&
          (col("pt1") >= col("bpt_lo") || col("is_first")) &&
          (col("pt1") < col("bpt_hi") || col("is_last")), "left")
      .withColumn("c2", c2)
      .withColumn("pt2", col("pt1") * col("c2"))

    // L3Absolute: formula "1" with a pt clamp — still evaluated through
    // the parsed tree (data-driven, not assumed)
    val l3row = jecL3.rows.head
    val c3 = TFormula.toColumn(jecL3.formula,
      { case 0 => clampc(col("pt2"), lit(l3row.clamps(0)._1), lit(l3row.clamps(0)._2)) },
      i => lit(l3row.params(i)))
    s2.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("c1").cast("float").as("c1"),
        col("c2").cast("float").as("c2"),
        (col("pt2") * c3).cast("float").as("pt_jec"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private lazy val l21Sql = {
    val l1csv = s"$fixturesRoot/jec_l1_mc.csv"
    val l2csv = s"$fixturesRoot/jec_l2_mc.csv"
    def cl(x: String, lo: String, hi: String) = s"LEAST(GREATEST($x, $lo), $hi)"
    val f1 = TFormula.toSql(jecL1.formula,
      Vector(cl("j.rho", "l1.rho_lo", "l1.rho_hi"),
        cl("j.pt_raw", "l1.pt_lo", "l1.pt_hi"),
        cl("j.area", "l1.a_lo", "l1.a_hi")),
      i => s"l1.p$i")
    val f2 = TFormula.toSql(jecL2.formula,
      Vector(cl("s1.pt1", "l2.x_lo", "l2.x_hi")), i => s"l2.p$i")
    val l3row = jecL3.rows.head
    val f3 = TFormula.toSql(jecL3.formula,
      Vector(cl("pt2", l3row.clamps(0)._1.toString, l3row.clamps(0)._2.toString)),
      i => l3row.params(i).toString)
    s"""WITH l1 AS (SELECT * FROM read_csv('$l1csv', header=true, columns={
       |  'eta_lo':'DOUBLE','eta_hi':'DOUBLE','rho_lo':'DOUBLE','rho_hi':'DOUBLE',
       |  'pt_lo':'DOUBLE','pt_hi':'DOUBLE','a_lo':'DOUBLE','a_hi':'DOUBLE',
       |  'p0':'DOUBLE','p1':'DOUBLE','p2':'DOUBLE','p3':'DOUBLE','p4':'DOUBLE','p5':'DOUBLE'})),
       |l2 AS (SELECT * FROM read_csv('$l2csv', header=true, columns={
       |  'eta_lo':'DOUBLE','eta_hi':'DOUBLE','bpt_lo':'DOUBLE','bpt_hi':'DOUBLE',
       |  'x_lo':'DOUBLE','x_hi':'DOUBLE',
       |  'p0':'DOUBLE','p1':'DOUBLE','p2':'DOUBLE','p3':'DOUBLE','p4':'DOUBLE'})),
       |l2f AS (SELECT *,
       |  bpt_lo = MIN(bpt_lo) OVER (PARTITION BY eta_lo, eta_hi) AS is_first,
       |  bpt_hi = MAX(bpt_hi) OVER (PARTITION BY eta_lo, eta_hi) AS is_last
       | FROM l2),
       |jets AS ($l21JetsSql),
       |s1 AS (
       | SELECT j.l_orderkey, j.l_linenumber, j.l_extendedprice, j.eta,
       |  COALESCE($f1, 1.0) AS c1,
       |  j.pt_raw * COALESCE($f1, 1.0) AS pt1
       | FROM jets j LEFT JOIN l1
       |  ON j.eta >= l1.eta_lo AND j.eta < l1.eta_hi),
       |s2 AS (
       | SELECT s1.l_orderkey, s1.l_linenumber, s1.l_extendedprice, s1.c1,
       |  COALESCE($f2, 1.0) AS c2,
       |  s1.pt1 * COALESCE($f2, 1.0) AS pt2
       | FROM s1 LEFT JOIN l2f l2
       |  ON s1.eta >= l2.eta_lo AND s1.eta < l2.eta_hi
       |  AND (s1.pt1 >= l2.bpt_lo OR l2.is_first)
       |  AND (s1.pt1 < l2.bpt_hi OR l2.is_last))
       |SELECT l_orderkey, l_linenumber, l_extendedprice,
       | CAST(c1 AS REAL) AS c1, CAST(c2 AS REAL) AS c2,
       | CAST(pt2 * $f3 AS REAL) AS pt_jec
       |FROM s2 ORDER BY 1, 2, 3""".stripMargin
  }

  // ---- l23: the DATA-era RunA chain incl. the L2L3Residual ------------------
  // Data jets get a FOURTH level (config/jec_parameters.py
  // jec_levels_data = [L1FastJet, L2Relative, L3Absolute,
  // L2L3Residual]); the RunA residual payload is the most complex
  // TFormula in the reference's data: TMath::-namespaced functions
  // (Log/Max/Power), nested min/max pt windows driven by params [0]/[1]
  // and a logistic turn-on — all handled by the parser's namespace
  // normalization. Same plan shape as l21 plus one more
  // BroadcastHashJoin (36-bucket eta hash).
  private lazy val jecL1D = JecTextTables.parseLevel(
    refData("jec/Autumn18_RunA_V19_DATA_L1FastJet_AK4PFchs.jec.txt"))
  private lazy val jecL2D = JecTextTables.parseLevel(
    refData("jec/Autumn18_RunA_V19_DATA_L2Relative_AK4PFchs.jec.txt"))
  private lazy val jecL3D = JecTextTables.parseLevel(
    refData("jec/Autumn18_RunA_V19_DATA_L3Absolute_AK4PFchs.jec.txt"))
  private lazy val jecResD = JecTextTables.parseLevel(
    refData("jec/Autumn18_RunA_V19_DATA_L2L3Residual_AK4PFchs.jec.txt"))

  private def l23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l1df = jecL1D.rows.map { r =>
      (jecL1D.etaIdx(r.bounds(0)._1),
        r.clamps(0)._1, r.clamps(0)._2, r.clamps(1)._1, r.clamps(1)._2,
        r.clamps(2)._1, r.clamps(2)._2,
        r.params(0), r.params(1), r.params(2), r.params(3), r.params(4),
        r.params(5), r.params(6))
    }.toDF("e1", "rho_lo", "rho_hi", "cpt_lo", "cpt_hi", "a_lo", "a_hi",
      "p0", "p1", "p2", "p3", "p4", "p5", "p6")
    val l2df = jecL2D.rows.map { r =>
      (jecL2D.etaIdx(r.bounds(0)._1), r.bounds(1)._1, r.bounds(1)._2,
        r.clamps(0)._1, r.clamps(0)._2,
        r.params(0), r.params(1), r.params(2), r.params(3), r.params(4))
    }.toDF("e2", "bpt_lo", "bpt_hi", "x_lo", "x_hi", "q0", "q1", "q2", "q3", "q4")
    val resdf = jecResD.rows.map { r =>
      (jecResD.etaIdx(r.bounds(0)._1), r.clamps(0)._1, r.clamps(0)._2,
        r.params(0), r.params(1), r.params(2), r.params(3), r.params(4),
        r.params(5), r.params(6), r.params(7), r.params(8))
    }.toDF("e4", "r_lo", "r_hi", "t0", "t1", "t2", "t3", "t4", "t5", "t6",
      "t7", "t8")

    val jets = l21Jets(s, dir)
      .withColumn("e1", binIdx(col("eta"), jecL1D.etaLows))
      .withColumn("e2", binIdx(col("eta"), jecL2D.etaLows))
      .withColumn("e4", binIdx(col("eta"), jecResD.etaLows))

    val l1Vars: Int => Column = {
      case 0 => clampc(col("rho"), col("rho_lo"), col("rho_hi"))
      case 1 => clampc(col("pt_raw"), col("cpt_lo"), col("cpt_hi"))
      case 2 => clampc(col("area"), col("a_lo"), col("a_hi"))
    }
    val c1 = coalesce(
      TFormula.toColumn(jecL1D.formula, l1Vars, i => col(s"p$i")), lit(1.0))
    val s1 = jets.join(broadcast(l1df), Seq("e1"), "left")
      .withColumn("c1", c1)
      .withColumn("pt1", col("pt_raw") * col("c1"))
      .select("l_orderkey", "l_linenumber", "l_extendedprice",
        "eta", "e2", "e4", "pt1", "c1")

    val c2 = coalesce(
      TFormula.toColumn(jecL2D.formula,
        { case 0 => clampc(col("pt1"), col("x_lo"), col("x_hi")) },
        i => col(s"q$i")), lit(1.0))
    // coffea edge-bin semantics (factorized corrector): a pt1 below the
    // lowest (or at/above the highest) pt bin of its eta slice matches
    // the EDGE bin and evaluates its formula at clamped x, instead of
    // falling out of the join to c2 = 1.0
    val w2 = Window.partitionBy(col("e2"))
    val l2f = l2df
      .withColumn("is_first", col("bpt_lo") === min(col("bpt_lo")).over(w2))
      .withColumn("is_last", col("bpt_hi") === max(col("bpt_hi")).over(w2))
    val s2 = s1.join(broadcast(l2f),
        s1("e2") === l2f("e2") &&
          (col("pt1") >= col("bpt_lo") || col("is_first")) &&
          (col("pt1") < col("bpt_hi") || col("is_last")), "left")
      .withColumn("c2", c2)
      .withColumn("pt2", col("pt1") * col("c2"))
      .select("l_orderkey", "l_linenumber", "l_extendedprice",
        "e4", "pt2", "c1", "c2")

    // L3Absolute is unit; evaluated through the parsed tree like l21
    val l3row = jecL3D.rows.head
    val c3 = TFormula.toColumn(jecL3D.formula,
      { case 0 => clampc(col("pt2"), lit(l3row.clamps(0)._1), lit(l3row.clamps(0)._2)) },
      i => lit(l3row.params(i)))
    val s3 = s2.withColumn("pt3", col("pt2") * c3)

    val c4 = coalesce(
      TFormula.toColumn(jecResD.formula,
        { case 0 => clampc(col("pt3"), col("r_lo"), col("r_hi")) },
        i => col(s"t$i")), lit(1.0))
    s3.join(broadcast(resdf), Seq("e4"), "left")
      .withColumn("c4", c4)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("c1").cast("float").as("c1"),
        col("c2").cast("float").as("c2"),
        col("c4").cast("float").as("c_residual"),
        (col("pt3") * col("c4")).cast("float").as("pt_jec"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private lazy val l23Sql = {
    val l1csv = s"$fixturesRoot/jec_l1_data.csv"
    val l2csv = s"$fixturesRoot/jec_l2_data.csv"
    val rescsv = s"$fixturesRoot/jec_res_data.csv"
    def cl(x: String, lo: String, hi: String) = s"LEAST(GREATEST($x, $lo), $hi)"
    val f1 = TFormula.toSql(jecL1D.formula,
      Vector(cl("j.rho", "l1.rho_lo", "l1.rho_hi"),
        cl("j.pt_raw", "l1.pt_lo", "l1.pt_hi"),
        cl("j.area", "l1.a_lo", "l1.a_hi")),
      i => s"l1.p$i")
    val f2 = TFormula.toSql(jecL2D.formula,
      Vector(cl("s1.pt1", "l2.x_lo", "l2.x_hi")), i => s"l2.p$i")
    val l3row = jecL3D.rows.head
    val f3 = TFormula.toSql(jecL3D.formula,
      Vector(cl("pt2", l3row.clamps(0)._1.toString, l3row.clamps(0)._2.toString)),
      i => l3row.params(i).toString)
    val f4 = TFormula.toSql(jecResD.formula,
      Vector(cl("s3.pt3", "r.x_lo", "r.x_hi")), i => s"r.p$i")
    s"""WITH l1 AS (SELECT * FROM read_csv('$l1csv', header=true, columns={
       |  'eta_lo':'DOUBLE','eta_hi':'DOUBLE','rho_lo':'DOUBLE','rho_hi':'DOUBLE',
       |  'pt_lo':'DOUBLE','pt_hi':'DOUBLE','a_lo':'DOUBLE','a_hi':'DOUBLE',
       |  'p0':'DOUBLE','p1':'DOUBLE','p2':'DOUBLE','p3':'DOUBLE','p4':'DOUBLE',
       |  'p5':'DOUBLE','p6':'DOUBLE'})),
       |l2 AS (SELECT * FROM read_csv('$l2csv', header=true, columns={
       |  'eta_lo':'DOUBLE','eta_hi':'DOUBLE','bpt_lo':'DOUBLE','bpt_hi':'DOUBLE',
       |  'x_lo':'DOUBLE','x_hi':'DOUBLE',
       |  'p0':'DOUBLE','p1':'DOUBLE','p2':'DOUBLE','p3':'DOUBLE','p4':'DOUBLE'})),
       |res AS (SELECT * FROM read_csv('$rescsv', header=true, columns={
       |  'eta_lo':'DOUBLE','eta_hi':'DOUBLE','x_lo':'DOUBLE','x_hi':'DOUBLE',
       |  'p0':'DOUBLE','p1':'DOUBLE','p2':'DOUBLE','p3':'DOUBLE','p4':'DOUBLE',
       |  'p5':'DOUBLE','p6':'DOUBLE','p7':'DOUBLE','p8':'DOUBLE'})),
       |l2f AS (SELECT *,
       |  bpt_lo = MIN(bpt_lo) OVER (PARTITION BY eta_lo, eta_hi) AS is_first,
       |  bpt_hi = MAX(bpt_hi) OVER (PARTITION BY eta_lo, eta_hi) AS is_last
       | FROM l2),
       |jets AS ($l21JetsSql),
       |s1 AS (
       | SELECT j.l_orderkey, j.l_linenumber, j.l_extendedprice, j.eta,
       |  COALESCE($f1, 1.0) AS c1,
       |  j.pt_raw * COALESCE($f1, 1.0) AS pt1
       | FROM jets j LEFT JOIN l1
       |  ON j.eta >= l1.eta_lo AND j.eta < l1.eta_hi),
       |s2 AS (
       | SELECT s1.l_orderkey, s1.l_linenumber, s1.l_extendedprice, s1.eta, s1.c1,
       |  COALESCE($f2, 1.0) AS c2,
       |  s1.pt1 * COALESCE($f2, 1.0) AS pt2
       | FROM s1 LEFT JOIN l2f l2
       |  ON s1.eta >= l2.eta_lo AND s1.eta < l2.eta_hi
       |  AND (s1.pt1 >= l2.bpt_lo OR l2.is_first)
       |  AND (s1.pt1 < l2.bpt_hi OR l2.is_last)),
       |s3 AS (
       | SELECT s2.*, pt2 * $f3 AS pt3 FROM s2)
       |SELECT s3.l_orderkey, s3.l_linenumber, s3.l_extendedprice,
       | CAST(s3.c1 AS REAL) AS c1, CAST(s3.c2 AS REAL) AS c2,
       | CAST(COALESCE($f4, 1.0) AS REAL) AS c_residual,
       | CAST(s3.pt3 * COALESCE($f4, 1.0) AS REAL) AS pt_jec
       |FROM s3 LEFT JOIN res r
       |  ON s3.eta >= r.eta_lo AND s3.eta < r.eta_hi
       |ORDER BY 1, 2, 3""".stripMargin
  }


  // ---- l28: file-driven PU reweighting from the REAL pileup files ---------
  // reference: stage1/corrections/pu_reweight.py:10-28 (pu_lookups reads
  // puData2018_withVar.root's nominal/up/down TH1s "pileup"/
  // "pileup_plus"/"pileup_minus" / mcPileup2018.root's "pu_mc"),
  // :32-66 (clamp >= 0, normalize both, ratio where mc != 0, iterative
  // maxw crop with the 0.0025 integral-shift break, final integral-
  // preserving renorm), :75-85 (pu_evaluator: per-event lookup on
  // Pileup.nTrueInt with the > 100 / < 1 -> 1.0 overrides). This was the
  // last stage1/corrections module exercised on synthetic instead of its
  // real input (round-11 verdict ask #2).
  //
  // Scale shape: the two ROOT files are ~100-bin CONFIG, parsed driver-
  // side through the same RootHistFile decoder the s10/l14 connector
  // uses, derived once (O(100) driver doubles - a14's bounded-collect
  // discipline), and broadcast onto the event scan as a 100-row map -
  // one scan, no shuffle, at any corpus size. Determinism: every fold
  // over bins is an ascending-bin left fold on both engines (the a14Sql
  // list_reduce discipline); the oracle replays the derivation from an
  // INDEPENDENTLY parsed literal map (tools/gen_pu_oracle.py - own
  // minimal ROOT decoder, no shared code - the l14/l24 discipline) and
  // unrolls the crop loop 11 steps with done flags (maxw <= 5 at entry
  // means at most 10 body runs before maxw <= 3; measured trajectory on
  // the real files: 10 iterations, no shift-break, all three modes).
  private def puCheckIntegral(w1: Array[Double], w2: Array[Double],
      ref: Array[Double]): Double = {
    var my = 0.0; var rf = 0.0; var i = 0
    while (i < w1.length) { my += w1(i) * ref(i); rf += w2(i) * ref(i); i += 1 }
    (my - rf) / rf
  }
  /** pu_reweight.py:32-66, op-for-op (ascending-bin folds). */
  private def puReweight(data: Array[Double], mc: Array[Double]): Array[Double] = {
    val mcRef = mc.map(math.max(_, 0.0))
    val d = data.map(math.max(_, 0.0))
    val smc = mcRef.foldLeft(0.0)(_ + _)
    val sd = d.foldLeft(0.0)(_ + _)
    val w = Array.tabulate(mc.length) { i =>
      val mcn = mcRef(i) / smc
      if (mcn != 0.0) (d(i) / sd) / mcn else 1.0
    }
    var maxw = math.min(w.max, 5.0)
    var ran = false; var stop = false
    while (!stop && maxw > 3) {
      ran = true
      val shift = puCheckIntegral(w.map(math.min(maxw, _)), w, mcRef)
      if (math.abs(shift) > 0.0025) stop = true else maxw *= 0.95
    }
    maxw /= 0.95
    if (ran) {
      val cropped = w.map(math.min(maxw, _))
      val ns = puCheckIntegral(cropped, w, mcRef)
      cropped.map(_ * (1 - ns))
    } else w
  }
  private def l28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def bins(path: String, name: String): Array[Double] = {
      val h = graft.sources.RootHistFile.read(path)
        .find(_.name == name).getOrElse(
          throw new IllegalStateException(s"TH1 '$name' not in $path"))
      h.contents.slice(1, h.nbins + 1) // in-range bins (uproot .values())
    }
    val mc = bins(refData("pileup/mcPileup2018.root"), "pu_mc")
    val modes = Seq("nom" -> "pileup", "up" -> "pileup_plus",
      "down" -> "pileup_minus").map { case (m, hn) =>
      m -> puReweight(bins(refData("pileup/puData2018_withVar.root"), hn), mc)
    }.toMap
    val wts = mc.indices.map(i =>
        (i.toLong, modes("nom")(i), modes("up")(i), modes("down")(i)))
      .toDF("bin", "w_nom", "w_up", "w_down")
    val ev = rd(s, dir, "events")
      .select(col("event_id"), col("value").as("x"),
        least(floor(col("value")).cast("long"), lit(99L)).as("bin"))
    def pick(c: String) =
      when(col("x") > 100.0 || col("x") < 1.0, 1.0)
        .otherwise(col(c)).cast("float")
    ev.join(broadcast(wts), "bin")
      .select(col("event_id"), pick("w_nom").as("pu_nom"),
        pick("w_up").as("pu_up"), pick("w_down").as("pu_down"))
      .orderBy(col("event_id"))
  }
  private val l28Sql = {
    val fold = "(a, b) -> a + b"
    // each step references its predecessor EXACTLY once (and folds the
    // integral-shift inline as aggregates): duckdb 1.0 inlines CTEs per
    // reference, so a two-reference step chain re-evaluates the whole
    // prefix 2^k times
    val shiftAgg =
      s"(list_reduce([0.0] || list(LEAST(m.maxw, s.w) * s.mc_ref " +
        s"ORDER BY s.bin), $fold) - MAX(r.ri)) / MAX(r.ri)"
    val steps = (1 to 11).map { k =>
      val p = s"m${k - 1}"
      s"""m$k AS (
         | SELECT s.mode,
         |  CASE WHEN BOOL_OR(m.done) OR MAX(m.maxw) <= 3
         |         OR ABS($shiftAgg) > 0.0025
         |       THEN MAX(m.maxw) ELSE MAX(m.maxw) * 0.95 END AS maxw,
         |  (BOOL_OR(m.done) OR MAX(m.maxw) <= 3
         |    OR ABS($shiftAgg) > 0.0025) AS done,
         |  MAX(m.iters) + CASE WHEN NOT BOOL_OR(m.done) AND MAX(m.maxw) > 3
         |                 THEN 1 ELSE 0 END AS iters
         | FROM s0 s JOIN $p m USING (mode) JOIN refint r USING (mode)
         | GROUP BY s.mode)"""
    }.mkString(",\n")
    s"""WITH lit(bin, d_nom, d_up, d_down, mc) AS (VALUES
       |(0,291307.414225478,270245.3315466341,315801.7420577451,4.695341e-10),
       |(1,1022576.5716639409,896171.8670628264,1178545.1175537407,1.206213e-06),
       |(2,3120229.926638176,2676461.3382471297,3661196.8709580996,1.162593e-06),
       |(3,6816540.478234074,5875340.661442655,7955080.630468236,6.118058e-06),
       |(4,12005759.81712264,10371335.0450619,13979597.537096677,1.626767e-05),
       |(5,18630575.611155875,16147459.406796012,21691127.89091114,3.508135e-05),
       |(6,27461689.642384753,23515792.357289586,32450839.70236911,7.12608e-05),
       |(7,39952686.110438175,33811939.101855405,47673798.11047744,0.0001400641),
       |(8,56486199.27466003,47619398.07293194,67735292.89679198,0.0002663403),
       |(9,78241529.03531496,65280003.86457678,95392465.49878843,0.0004867473),
       |(10,108991431.34730473,89264053.04874097,135519389.41876504,0.0008469),
       |(11,152534197.42189974,122994178.95296809,192316690.1699117,0.001394142),
       |(12,212073850.41749814,169346379.7439519,269196209.9119286,0.002169081),
       |(13,290047021.6098269,230733262.7522358,368750388.62845975,0.003198514),
       |(14,388548906.3582975,308962764.3765404,493542567.81458116,0.004491138),
       |(15,509650576.2060539,405813976.2747027,645454166.0734986,0.006036423),
       |(16,654479123.2711684,522885320.0083002,823915658.117932,0.007806509),
       |(17,821784387.8056575,660675470.7820833,1024127611.2488245,0.00976048),
       |(18,1006697908.2281357,817471792.955464,1236166466.0002275,0.0118498),
       |(19,1200277873.289519,988501202.0887539,1445847571.625206,0.01402411),
       |(20,1390430964.4802794,1165758906.6089823,1637900331.4721873,0.01623639),
       |(21,1564539537.0028596,1338909546.215939,1800706110.303957,0.01844593),
       |(22,1713097808.9177806,1497457891.3724177,1930161976.4787683,0.02061956),
       |(23,1832618675.2041762,1633558642.0355685,2030005246.3466206,0.02273221),
       |(24,1925919752.8729997,1744230456.1514614,2108572994.4762826,0.02476554),
       |(25,1999724631.8157446,1831604752.9125972,2174799512.267139,0.02670494),
       |(26,2061578182.7564254,1901130482.9829826,2235442111.8215165,0.02853662),
       |(27,2117567147.8524773,1959183549.544637,2293885768.7805367,0.03024538),
       |(28,2171193193.3093567,2011191025.5585632,2350294287.795684,0.03181323),
       |(29,2223302165.4860086,2060614754.567708,2402376810.0419397,0.03321895),
       |(30,2272567474.3188367,2108737478.7538676,2446514484.125299,0.03443884),
       |(31,2316288319.717015,2154963541.527968,2478633452.46616,0.035448),
       |(32,2351178320.923796,2197352091.479986,2494585865.9610653,0.03622242),
       |(33,2373823009.725808,2233291111.435566,2490154907.106866,0.03674106),
       |(34,2380756580.1016393,2259944754.8576202,2461094674.477081,0.0369877),
       |(35,2368468463.41114,2274443817.7009463,2403445817.48942,0.03695224),
       |(36,2333470406.319304,2273873190.208092,2314282026.5361013,0.03663157),
       |(37,2272689645.8117213,2255289965.8574862,2192553801.4427156,0.03602986),
       |(38,2184080517.0321693,2215847066.5423455,2039787187.3908713,0.03515857),
       |(39,2067263330.9429865,2153194680.2468295,1860318202.673291,0.03403612),
       |(40,1923976304.6111314,2065958788.0585434,1660999031.8399289,0.0326868),
       |(41,1758177656.269271,1954221116.6484873,1450446836.1553202,0.03113936),
       |(42,1575757580.4369125,1819801059.4601052,1237980387.061646,0.02942582),
       |(43,1383936253.1119056,1666279687.7515018,1032533385.5858866,0.02757999),
       |(44,1190448652.170629,1498734917.212735,841675273.3698046,0.02563551),
       |(45,1002725069.7432351,1323257679.0517673,670936784.408188,0.02362497),
       |(46,827145019.9099033,1146320960.9680593,523535546.7189542,0.02158003),
       |(47,668507370.9983121,974154266.8290715,400436380.47193205,0.01953143),
       |(48,529791089.9984411,812168340.5825108,300734710.71774185,0.01750863),
       |(49,412160788.03581625,664536181.5797883,222200918.08293623,0.01553934),
       |(50,315214352.12837166,533985978.6205041,161859326.11799482,0.01364905),
       |(51,237375574.65293625,421779787.623874,116488412.0266096,0.01186035),
       |(52,176335200.5410774,327867183.0303754,82993707.10170053,0.01019246),
       |(53,129456357.28155541,251170347.3043515,58636891.81322594,0.008660705),
       |(54,94095496.62408836,189917348.62415987,41135772.99070455,0.007275915),
       |(55,67823554.89785273,141968228.81523094,28675829.63924186,0.006043917),
       |(56,48544290.49868293,105086196.77020487,19867364.880017586,0.004965276),
       |(57,34533731.61875898,77140087.91607283,13675488.321649007,0.004035611),
       |(58,24428570.99527305,56229355.971521914,9345309.588234283,0.003246373),
       |(59,17183087.620542523,40741438.789456695,6333601.00959686,0.002585932),
       |(60,12013558.374278562,29361637.618444446,4252391.777389594,0.002040746),
       |(61,8342427.428625233,21052631.704517677,2825454.507962309,0.001596402),
       |(62,5748665.821262019,15016193.659136137,1856266.154855145,0.001238498),
       |(63,3927150.6009140895,10649873.467472898,1205095.9406321924,0.0009533139),
       |(64,2657266.577790691,7505190.118428784,772832.4650266246,0.0007282885),
       |(65,1779582.6702504202,5251182.383975239,489554.60490501445,0.000552306),
       |(66,1178950.6342877785,3644734.6654119627,306365.3965706098,0.0004158005),
       |(67,772389.4603758702,2507566.711460724,189473.47010864958,0.0003107302),
       |(68,500387.66615909775,1708990.0097903123,115856.73557594801,0.0002304612),
       |(69,320596.10098633665,1153256.7476035783,70075.6277294707,0.0001696012),
       |(70,203193.588024592,770361.5288311915,41944.75501126923,0.0001238161),
       |(71,127445.46717430228,509342.35539924446,24854.32024188869,8.96531e-05),
       |(72,79137.51592138821,333356.55605081137,14582.251902219568,6.438087e-05),
       |(73,48669.67288957743,216017.0523466918,8471.404763148334,4.585302e-05),
       |(74,29654.972614836184,138638.26106265927,4872.213220714874,3.23949e-05),
       |(75,17905.95274274225,88155.77221489069,2773.3005998417843,2.271048e-05),
       |(76,10715.106708332029,55558.1248122803,1561.5896585292408,1.580622e-05),
       |(77,6354.312476285517,34714.531254250265,869.3423310953032,1.09286e-05),
       |(78,3733.571299931083,21510.223075901693,478.18362871820966,7.512748e-06),
       |(79,2172.795931043638,13219.196678167695,259.711570993501,5.140304e-06),
       |(80,1251.8769040314182,8057.412885533428,139.18514453780338,3.505254e-06),
       |(81,713.7228515199314,4870.4201179552565,73.5564989434893,2.386437e-06),
       |(82,402.42067134282485,2918.883836819983,38.31011632179994,1.625859e-06),
       |(83,224.26579258019228,1733.8149861902377,19.652961635329802,1.111865e-06),
       |(84,123.46071823481208,1020.3433026033714,9.925323529087773,7.663272e-07),
       |(85,67.10229254678896,594.6289316705918,4.932488089301289,5.350694e-07),
       |(86,35.988386091327946,342.99434086562053,2.4111077014280724,3.808318e-07),
       |(87,19.036820843983968,195.72646831925945,1.1588879311224352,2.781785e-07),
       |(88,9.927559582528522,110.43762382508731,0.5475257065090167,2.098661e-07),
       |(89,5.101927863912708,61.58583613179372,0.25420663184304915,1.642811e-07),
       |(90,2.5829487005462974,33.92691050430456,0.11595374635276096,1.312835e-07),
       |(91,1.2878047833391197,18.45547144646447,0.05195267307384213,1.081326e-07),
       |(92,0.6321441256058206,9.909606813260226,0.022860074264500967,9.141993e-08),
       |(93,0.30542704400718906,5.250333535799626,0.009877013500704784,7.890983e-08),
       |(94,0.14522141173473016,2.7439776588820104,0.004189790326085863,6.91468e-08),
       |(95,0.06793657130337492,1.4142166994700147,0.0017447215511018355,6.119019e-08),
       |(96,0.0312647241137893,0.7185963961042857,0.0007131502405178236,5.443693e-08),
       |(97,0.014152095384585332,0.3599084851913602,0.0002861000572899619,4.85036e-08),
       |(98,0.006300093435843689,0.17764482079492214,0.00011264274961581,4.31486e-08),
       |(99,0.0027579417118038796,0.08639564423357406,4.352151295750062e-05,3.822112e-08)),
       |long AS (
       | SELECT mode, bin, GREATEST(d, 0.0) AS d, GREATEST(mc, 0.0) AS mc_ref FROM (
       |  SELECT bin, 'nom' AS mode, d_nom AS d, mc FROM lit
       |  UNION ALL SELECT bin, 'up', d_up, mc FROM lit
       |  UNION ALL SELECT bin, 'down', d_down, mc FROM lit)),
       |sums AS (
       | SELECT mode,
       |  list_reduce([0.0] || list(d ORDER BY bin), $fold) AS sd,
       |  list_reduce([0.0] || list(mc_ref ORDER BY bin), $fold) AS smc
       | FROM long GROUP BY 1),
       |s0 AS (
       | SELECT mode, bin, mc_ref,
       |  CASE WHEN mc_ref / smc != 0 THEN (d / sd) / (mc_ref / smc) ELSE 1.0 END AS w
       | FROM long JOIN sums USING (mode)),
       |refint AS (
       | SELECT mode, list_reduce([0.0] || list(w * mc_ref ORDER BY bin), $fold) AS ri
       | FROM s0 GROUP BY 1),
       |m0 AS (
       | SELECT mode, LEAST(MAX(w), 5.0) AS maxw, FALSE AS done, 0 AS iters
       | FROM s0 GROUP BY 1),
       |$steps,
       |ns AS (
       | SELECT s.mode,
       |  (list_reduce([0.0] || list(LEAST(m.maxw / 0.95, s.w) * s.mc_ref ORDER BY s.bin), $fold)
       |    - MAX(r.ri)) / MAX(r.ri) AS normshift,
       |  MAX(m.iters) AS iters, MAX(m.maxw) AS maxw
       | FROM s0 s JOIN m11 m USING (mode) JOIN refint r USING (mode)
       | GROUP BY s.mode),
       |fin AS (
       | SELECT s.mode, s.bin,
       |  CASE WHEN n.iters >= 1
       |       THEN LEAST(n.maxw / 0.95, s.w) * (1 - n.normshift)
       |       ELSE s.w END AS w
       | FROM s0 s JOIN ns n USING (mode)),
       |wts AS (
       | SELECT bin,
       |  MAX(CASE WHEN mode = 'nom' THEN w END) AS w_nom,
       |  MAX(CASE WHEN mode = 'up' THEN w END) AS w_up,
       |  MAX(CASE WHEN mode = 'down' THEN w END) AS w_down
       | FROM fin GROUP BY 1)
       |SELECT e.event_id,
       | CAST(CASE WHEN e.x > 100 OR e.x < 1 THEN 1.0 ELSE w.w_nom END AS REAL) AS pu_nom,
       | CAST(CASE WHEN e.x > 100 OR e.x < 1 THEN 1.0 ELSE w.w_up END AS REAL) AS pu_up,
       | CAST(CASE WHEN e.x > 100 OR e.x < 1 THEN 1.0 ELSE w.w_down END AS REAL) AS pu_down
       |FROM (SELECT event_id, value AS x,
       |       LEAST(CAST(FLOOR(value) AS BIGINT), 99) AS bin FROM events) e
       |JOIN wts w USING (bin)
       |ORDER BY e.event_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l20_btag_csv_real" -> (l20 _),
    "l28_pu_file_reweight" -> (l28 _),
    "l21_jec_levels_real" -> (l21 _),
    "l23_jec_data_residual" -> (l23 _)
  )

  val oracle: collection.MapView[String, String] = withDeferred(Map(
    "l20_btag_csv_real" -> l20Sql,
    "l28_pu_file_reweight" -> l28Sql),
    "l21_jec_levels_real" -> (() => l21Sql),
    "l23_jec_data_residual" -> (() => l23Sql))
}
