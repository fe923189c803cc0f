package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.SparkSpec.assumeRefData
import graft.functions.TFormula
import graft.lookup.JecTextTables

/** TFormula subset evaluator: parser/eval pinned against independently
  * (Python math) computed values; Column and SQL renderings pinned
  * against eval; every real payload formula in the fixture files must
  * parse; the btag reshape-central Horner recognition must cover all
  * central rows with the file's literal coefficients. */
class TFormulaSpec extends AnyFunSuite with SparkSpec {

  private val btagLog =
    "0.917829+(0.00298278*(log(x+19)*(log(x+18)*(3-(0.422392*log(x+18))))))"
  private val l1Formula =
    "max(0.0001,1-(z/y)*([0]+[1]*(x-20.0)+[2]*log(y/30.0)+[3]*pow(log(y/30.0),2)+" +
      "[4]*(x-20.0)*log(y/30.0)+[5]*(x-20.0)*pow(log(y/30.0),2)))"
  private val l1Params = Vector(15.779, 0.8245755764, 0.009136557366,
    -0.8398843091, -0.06640611175, -0.08254201627)

  test("eval matches independently computed values") {
    // expected values computed by hand with Python math (see git log)
    val v1 = TFormula.eval(TFormula.parse(btagLog), _ => 85.0, _ => 0.0)
    assert(math.abs(v1 - 0.9847524852630024) < 1e-15)
    val vars = Vector(25.0, 100.0, 0.5)
    val v2 = TFormula.eval(TFormula.parse(l1Formula), vars, l1Params)
    assert(math.abs(v2 - 0.9115128827815053) < 1e-15)
    val v3 = TFormula.eval(TFormula.parse("(1.12883+-0.196614*x)"), _ => 0.73, _ => 0.0)
    assert(math.abs(v3 - 0.98530178) < 1e-15)
  }

  test("toColumn and toSql agree with eval bit-for-bit") {
    val ast = TFormula.parse(l1Formula)
    val expected = TFormula.eval(ast, Vector(25.0, 100.0, 0.5), l1Params)
    val colV = spark.range(1)
      .select(TFormula.toColumn(ast,
        Vector(lit(25.0), lit(100.0), lit(0.5)), i => lit(l1Params(i)))
        .as("v")).head().getDouble(0)
    assert(colV == expected)
    // E-notation vars/params: plain decimal literals are DECIMAL in
    // Spark SQL and decimal division truncates (see TFormula.toSql)
    val sql = TFormula.toSql(ast,
      Vector("25.0E0", "100.0E0", "0.5E0"), i => l1Params(i).toString + "E0")
    val sqlV = spark.sql(s"SELECT $sql AS v").head().getDouble(0)
    assert(sqlV == expected)
  }

  test("every distinct formula in the real btag CSV parses") {
    assumeRefData("btag/DeepCSV_102XSF_V1.csv")
    val src = scala.io.Source.fromFile(
      graft.queries.refData("btag/DeepCSV_102XSF_V1.csv"))
    val forms = try src.getLines().drop(1)
      .map(_.split(",", 11)(10).trim.stripPrefix("\"").stripSuffix("\"").trim)
      .toSet
    finally src.close()
    assert(forms.size > 5000)
    forms.foreach(TFormula.parse) // throws on any parse failure
  }

  test("reshape-central Horner recognition covers all rows with literal coeffs") {
    assumeRefData("btag/DeepCSV_102XSF_V1.csv")
    val src = scala.io.Source.fromFile(
      graft.queries.refData("btag/DeepCSV_102XSF_V1.csv"))
    val rows = try src.getLines().drop(1).map(_.split(",", 11).map(_.trim))
      .filter(t => t.length == 11 && t(0) == "3" && t(1) == "iterativefit" &&
        t(2) == "central").toVector
    finally src.close()
    assert(rows.size == 139)
    rows.foreach { t =>
      val f = t(10).stripPrefix("\"").stripSuffix("\"").trim
      val ast = TFormula.parse(f)
      val c = ast.hornerCoeffs
      assert(c.isDefined, f)
      // Horner from the recognized coeffs == direct tree eval at probes
      val cs = c.get
      Seq(0.0, 0.37, 0.99).foreach { x =>
        val horner = cs.foldRight(0.0)((ci, acc) => ci + x * acc)
        val direct = TFormula.eval(ast, _ => x, _ => 0.0)
        assert(math.abs(horner - direct) < 1e-12 * math.max(1.0, math.abs(direct)),
          s"$f at $x: $horner vs $direct")
      }
    }
  }

  test("the DATA-era residual formula (TMath:: namespace) parses and evaluates") {
    assumeRefData("jec/Autumn18_RunA_V19_DATA_L2L3Residual_AK4PFchs.jec.txt",
      "jec/Autumn18_RunA_V19_DATA_L1FastJet_AK4PFchs.jec.txt")
    val res = JecTextTables.parseLevel(graft.queries.refData(
      "jec/Autumn18_RunA_V19_DATA_L2L3Residual_AK4PFchs.jec.txt"))
    assert(res.rows.size == 36)
    assert(res.rows.forall(_.params.size == 9))
    // evaluate row 0 at x = 100 GeV; the formula's own min/max window
    // uses params [0]/[1]; result must be a sane O(1) correction
    val r = res.rows.head
    val v = TFormula.eval(res.formula, _ => 100.0, r.params)
    assert(v > 0.5 && v < 2.0, s"residual correction out of range: $v")
    // the DATA-era L1 carries the extra [6] scale parameter
    val l1d = JecTextTables.parseLevel(graft.queries.refData(
      "jec/Autumn18_RunA_V19_DATA_L1FastJet_AK4PFchs.jec.txt"))
    assert(l1d.rows.forall(_.params.size == 7))
  }

  test("level-file headers parse and the L1/L2 grids are contiguous") {
    assumeRefData("jec/Autumn18_V19_MC_L1FastJet_AK4PFchs.jec.txt",
      "jec/Autumn18_V19_MC_L2Relative_AK4PFchs.jec.txt",
      "jec/Autumn18_V19_MC_UncertaintySources_AK4PFchs.junc.txt")
    val l1 = JecTextTables.parseLevel(graft.queries.refData(
      "jec/Autumn18_V19_MC_L1FastJet_AK4PFchs.jec.txt"))
    assert(l1.binVars == Vector("JetEta"))
    assert(l1.evalVars == Vector("Rho", "JetPt", "JetA"))
    assert(l1.rows.size == 82 && l1.etaLows.size == 82)
    assert(l1.rows.forall(_.params.size == 6))
    val l2 = JecTextTables.parseLevel(graft.queries.refData(
      "jec/Autumn18_V19_MC_L2Relative_AK4PFchs.jec.txt"))
    assert(l2.binVars == Vector("JetEta", "JetPt"))
    assert(l2.rows.size == 1972 && l2.etaLows.size == 82)
    assert(l2.rows.forall(_.params.size == 5))
    val unc = JecTextTables.parseUncSources(graft.queries.refData(
      "jec/Autumn18_V19_MC_UncertaintySources_AK4PFchs.junc.txt"))
    assert(unc.size == 12) // 11 regrouped sources + Total
    assert(unc("Absolute").grid.size == 40)
    assert(unc("Absolute").knots.size == 50)
  }
}
