package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.weights.WeightBuilder

/** Per-event weight-variation families from the reference's stage-1
  * corrections that fan a handful of event-level inputs into systematic
  * up/down weight columns through the multiplicative accumulator:
  *
  *  - l25: LHE scale-weight ren/fac variations
  *    (`/root/reference/stage1/corrections/lhe_weights.py:5-45`): pick
  *    elements {1,3,4,5,6,7,15,24,34} of the jagged per-event
  *    LHEScaleWeight array (1.0 when the array is too short), cascade
  *    the pick by array length (>8 / >30 — generators ship 9, 45, …
  *    weights), apply the dataset/year ×2 factor, and register ren/fac
  *    up/down as variation-only weights (`processor.py:398-403`,
  *    how="only_vars"). L1-prefiring nom/up/down
  *    (`l1prefiring_weights.py:4-7`, `processor.py:139-141`,
  *    how="all") rides the same accumulator.
  *  - l26: STXS stage-1.1 THU uncertainty scheme
  *    (`stage1/corrections/stxs_uncert.py:220-272`): a keyed
  *    dense_lookup of the 25-row acceptance matrix and powheg cross
  *    sections by the event's fine STXS category, fanned into 10
  *    up/down variation pairs  — w = 1 ± acc[cat][src]·Δ[src]/σ[cat].
  *
  * Engine design: both are single-scan projections. l25 is pure
  * column arithmetic (the jagged array stays in-row; element picks are
  * `element_at` behind length guards — no explode, no join). l26 is
  * one BroadcastHashJoin against the 25-row literal dim table — the
  * keyed-lookup plan shape that stays map-side at 100 TB. The weight
  * fan-out itself is [[graft.weights.WeightBuilder]]: one projection,
  * one codegen stage, however many variations.
  *
  * Determinism: every product is spelled in the same left-to-right
  * order in both engines and the outputs absorb libm/ulp noise via the
  * float32 cast, the repo's standard discipline.
  */
object WeightVariationQueries extends QueryFamily {

  // ---- l25: LHE scale weights + L1-prefiring -----------------------------

  // Jagged LHEScaleWeight fixture: array length cycles through the
  // reference's real-world shapes (4 and 8 = no cascade, 9 = the >8
  // cascade, 31 and 45 = the >30 cascade; 31 additionally exercises
  // the "index 34 absent under cut30" guard where the pick stays 1.0).
  // Element k is exact integer arithmetic over (event_id, k) so both
  // engines materialize bit-identical doubles.
  private val lheLenSql =
    """CAST(CASE event_id % 5 WHEN 0 THEN 4 WHEN 1 THEN 8 WHEN 2 THEN 9
      | WHEN 3 THEN 31 ELSE 45 END AS INT)""".stripMargin
  private def lheElemSql(k: String) =
    s"(0.8 + ((event_id * 31 + $k * 17) % 41) / 100.0)"
  private val lheIdx = Seq(1, 3, 4, 5, 6, 7, 15, 24, 34)

  private def l25(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val base = ev.select(col("event_id"),
        expr(lheLenSql).as("nlhe"),
        // dataset/year gate for the ×2 amc@NLO factor
        expr("CASE WHEN user_id % 2 = 0 THEN 'dy_m105_160_amc' ELSE 'ttjets_dl' END").as("dataset"),
        expr("CASE WHEN event_id % 2 = 0 THEN '2018' ELSE '2016' END").as("year"))
      // the jagged array itself — in-row, never exploded
      .withColumn("lhe", expr(
        s"transform(sequence(0, nlhe - 1), k -> ${lheElemSql("k")})"))
    // guarded element picks: reference lhe_weights.py:18-23
    val picks = lheIdx.foldLeft(base) { (df, i) =>
      df.withColumn(s"lhe$i",
        expr(s"CASE WHEN nlhe > $i THEN element_at(lhe, ${i + 1}) ELSE 1.0 END"))
    }
    val withF = picks.withColumn("lhefactor", expr(
      """CASE WHEN dataset = 'dy_m105_160_amc' AND year IN ('2017', '2018')
        | THEN 2.0 ELSE 1.0 END""".stripMargin))
    // the >8 / >30 cascades: lhe_weights.py:25-38 (cut30 wins over cut8)
    val renUp = expr("CASE WHEN nlhe > 30 THEN lhe34 WHEN nlhe > 8 THEN lhe7 ELSE lhe6 END") * col("lhefactor")
    val renDn = expr("CASE WHEN nlhe > 30 THEN lhe5 ELSE lhe1 END") * col("lhefactor")
    val facUp = expr("CASE WHEN nlhe > 30 THEN lhe24 WHEN nlhe > 8 THEN lhe5 ELSE lhe4 END") * col("lhefactor")
    val facDn = expr("CASE WHEN nlhe > 30 THEN lhe15 WHEN nlhe > 8 THEN lhe3 ELSE lhe3 END") * col("lhefactor")
    // L1-prefiring struct: nom/up/down event columns (synthesized the
    // same way on both engines), how="all"
    val pfNom = expr("0.9 + (event_id % 40) / 400.0")
    val pfUp = expr("0.9 + (event_id % 40) / 400.0 + 0.005")
    val pfDn = expr("0.9 + (event_id % 40) / 400.0 - 0.005")
    val genw = expr("1.0 + (event_id % 7) / 10.0")
    val wb = WeightBuilder()
      .add("genwgt", genw)
      .add("l1prefiring_wgt", pfNom, pfUp, pfDn)
      .add("lheren", lit(1.0), renUp, renDn) // only_vars: nominal untouched
      .add("lhefac", lit(1.0), facUp, facDn)
    val named = wb.named.map { case (n, c) => c.cast("float").as(n) }
    withF.select((Seq(col("event_id"), col("nlhe")) ++ named): _*)
      .orderBy(col("event_id"))
  }

  private val l25Sql: String = {
    val pickDefs = lheIdx.map(i =>
      s"CASE WHEN nlhe > $i THEN ${lheElemSql(i.toString)} ELSE 1.0 END AS lhe$i")
      .mkString(",\n ")
    // WeightBuilder order: genwgt, l1prefiring, lheren, lhefac —
    // products spelled left-to-right exactly as `reduce(_ * _)`
    val genw = "(1.0 + (event_id % 7) / 10.0)"
    val pfNom = "(0.9 + (event_id % 40) / 400.0)"
    val pfUp = "(0.9 + (event_id % 40) / 400.0 + 0.005)"
    val pfDn = "(0.9 + (event_id % 40) / 400.0 - 0.005)"
    s"""WITH base AS (
       | SELECT event_id, $lheLenSql AS nlhe,
       |  CASE WHEN user_id % 2 = 0 THEN 'dy_m105_160_amc' ELSE 'ttjets_dl' END AS dataset,
       |  CASE WHEN event_id % 2 = 0 THEN '2018' ELSE '2016' END AS year
       | FROM events),
       |picks AS (
       | SELECT *, $pickDefs,
       |  CASE WHEN dataset = 'dy_m105_160_amc' AND year IN ('2017', '2018')
       |   THEN 2.0 ELSE 1.0 END AS lhefactor
       | FROM base),
       |vars AS (
       | SELECT *,
       |  CASE WHEN nlhe > 30 THEN lhe34 WHEN nlhe > 8 THEN lhe7 ELSE lhe6 END * lhefactor AS ren_up,
       |  CASE WHEN nlhe > 30 THEN lhe5 ELSE lhe1 END * lhefactor AS ren_dn,
       |  CASE WHEN nlhe > 30 THEN lhe24 WHEN nlhe > 8 THEN lhe5 ELSE lhe4 END * lhefactor AS fac_up,
       |  CASE WHEN nlhe > 30 THEN lhe15 WHEN nlhe > 8 THEN lhe3 ELSE lhe3 END * lhefactor AS fac_dn
       | FROM picks)
       |SELECT event_id, nlhe,
       | CAST($genw * $pfNom * 1.0 * 1.0 AS REAL) AS wgt_nominal,
       | CAST($pfNom * 1.0 * 1.0 AS REAL) AS wgt_genwgt_off,
       | CAST($genw * 1.0 * 1.0 * $pfUp AS REAL) AS wgt_l1prefiring_wgt_up,
       | CAST($genw * 1.0 * 1.0 * $pfDn AS REAL) AS wgt_l1prefiring_wgt_down,
       | CAST($genw * 1.0 * 1.0 AS REAL) AS wgt_l1prefiring_wgt_off,
       | CAST($genw * $pfNom * 1.0 * ren_up AS REAL) AS wgt_lheren_up,
       | CAST($genw * $pfNom * 1.0 * ren_dn AS REAL) AS wgt_lheren_down,
       | CAST($genw * $pfNom * 1.0 AS REAL) AS wgt_lheren_off,
       | CAST($genw * $pfNom * 1.0 * fac_up AS REAL) AS wgt_lhefac_up,
       | CAST($genw * $pfNom * 1.0 * fac_dn AS REAL) AS wgt_lhefac_down,
       | CAST($genw * $pfNom * 1.0 AS REAL) AS wgt_lhefac_off
       |FROM vars ORDER BY event_id""".stripMargin
  }

  // ---- l26: STXS stage-1.1 THU variations ---------------------------------

  /** THU source names, in `config/parameters.py:165-177` order. */
  private val sthsNames = Vector("yield", "pth200", "mjj60", "mjj120",
    "mjj350", "mjj700", "mjj1000", "mjj1500", "pth25", "jet01")

  /** Per-source uncertainty deltas (`stxs_uncert.py:202-213`). */
  private val stxsDeltas = Vector(
    14.867, 0.394, 9.762, 6.788, 7.276, 3.645, 2.638, 1.005, 20.073, 18.094)

  /** (fine STXS category, acceptance[10], powheg xsec) —
    * `stxs_uncert.py:7-199` (stxs_acc) + `:214-239` (powheg_xsec). */
  private val stxsTable: Vector[(Int, Vector[Double], Double)] = Vector(
    (200, Vector(0.07, 0, 0, 0, 0, 0, 0, 0, 0, 0), 273.952),
    (201, Vector(0.0744, 0, 0, 0, 0, 0, 0, 0, 0, -0.1649), 291.030),
    (202, Vector(0.3367, 0, 0, 0, 0, 0, 0, 0, 0, -0.7464), 1317.635),
    (203, Vector(0.0092, 0, -0.6571, 0, 0, 0, 0, 0, -0.0567, 0.0178), 36.095),
    (204, Vector(0.0143, 0, 0.0282, -0.5951, 0, 0, 0, 0, -0.0876, 0.0275), 55.776),
    (205, Vector(0.0455, 0, 0.0902, 0.0946, -0.3791, 0, 0, 0, -0.2799, 0.0877), 178.171),
    (206, Vector(0.0048, 0, -0.3429, 0, 0, 0, 0, 0, 0.0567, 0.0093), 18.839),
    (207, Vector(0.0097, 0, 0.0192, -0.4049, 0, 0, 0, 0, 0.0876, 0.0187), 37.952),
    (208, Vector(0.0746, 0, 0.1477, 0.0155, -0.6209, 0, 0, 0, 0.2799, 0.1437), 291.846),
    (209, Vector(0.0375, 0.1166, 0.0743, 0.078, 0.1039, -0.2757, 0, 0, -0.2306, 0.0723), 146.782),
    (210, Vector(0.0985, 0.3062, 0.1951, 0.2048, 0.273, -0.7243, 0, 0, 0.2306, 0.1898), 385.566),
    (211, Vector(0.0166, 0.0515, 0.0328, 0.0345, 0.0459, 0.0773, -0.2473, 0, -0.1019, 0.0319), 64.859),
    (212, Vector(0.0504, 0.1568, 0.0999, 0.1049, 0.1398, 0.2353, -0.7527, 0, 0.1019, 0.0972), 197.414),
    (213, Vector(0.0137, 0.0426, 0.0271, 0.0285, 0.0379, 0.0639, 0.0982, -0.2274, -0.0842, 0.0264), 53.598),
    (214, Vector(0.0465, 0.1446, 0.0922, 0.0967, 0.1289, 0.2171, 0.3335, -0.7726, 0.0842, 0.0897), 182.107),
    (215, Vector(0.0105, 0.0327, 0.0208, 0.0219, 0.0291, 0.0491, 0.0754, 0.1498, -0.0647, 0.0203), 41.167),
    (216, Vector(0.048, 0.1491, 0.095, 0.0998, 0.133, 0.2239, 0.344, 0.6836, 0.0647, 0.0925), 187.823),
    (217, Vector(0.0051, -0.1304, 0.0101, 0.0106, 0.0141, 0.0238, 0.0366, 0.0727, -0.0314, 0.0098), 19.968),
    (218, Vector(0.0054, -0.1378, 0.0107, 0.0112, 0.0149, 0.0251, 0.0386, 0.0768, 0.0314, 0.0104), 21.092),
    (219, Vector(0.0032, -0.0816, 0.0063, 0.0066, 0.0088, 0.0149, 0.0229, 0.0455, -0.0196, 0.0062), 12.496),
    (220, Vector(0.0047, -0.1190, 0.0092, 0.0097, 0.0129, 0.0217, 0.0334, 0.0663, 0.0196, 0.0090), 18.215),
    (221, Vector(0.0034, -0.0881, 0.0068, 0.0072, 0.0096, 0.0161, 0.0247, 0.0491, -0.0212, 0.0066), 13.490),
    (222, Vector(0.0056, -0.1440, 0.0112, 0.0117, 0.0156, 0.0263, 0.0404, 0.0802, 0.0212, 0.0109), 22.044),
    (223, Vector(0.0036, -0.0929, 0.0072, 0.0076, 0.0101, 0.0169, 0.026, 0.0518, -0.0223, 0.0070), 14.220),
    (224, Vector(0.0081, -0.2062, 0.016, 0.0168, 0.0223, 0.0376, 0.0578, 0.1149, 0.0223, 0.0155), 31.565))

  private def l26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 25-row literal dim table (cat, acc0..acc9, xsec) — broadcast side
    val dim = stxsTable.map { case (cat, acc, xs) => (cat.toLong, acc, xs) }
      .toDF("stxs_cat", "acc", "xsec")
      .select(Seq(col("stxs_cat")) ++
        (0 until 10).map(i => element_at(col("acc"), i + 1).as(s"acc$i")) :+
        col("xsec"): _*)
    val ev = rd(s, dir, "events")
      .select(col("event_id"), (lit(200L) + col("event_id") % 25L).as("stxs_cat"))
    val varCols = (0 until 10).flatMap { i =>
      val x = (col(s"acc$i") * lit(stxsDeltas(i))) / col("xsec")
      Seq((lit(1.0) + x).cast("float").as(s"wgt_thu_vbf_${sthsNames(i)}_up"),
        (lit(1.0) - x).cast("float").as(s"wgt_thu_vbf_${sthsNames(i)}_down"))
    }
    ev.join(broadcast(dim), "stxs_cat")
      .select(Seq(col("event_id"), col("stxs_cat")) ++ varCols: _*)
      .orderBy(col("event_id"))
  }

  private val l26Sql: String = {
    val rows = stxsTable.map { case (cat, acc, xs) =>
      s"($cat, ${acc.mkString(", ")}, $xs)"
    }.mkString(",\n ")
    val accCols = (0 until 10).map(i => s"acc$i").mkString(", ")
    val varCols = (0 until 10).flatMap { i =>
      val x = s"(acc$i * ${stxsDeltas(i)}) / xsec"
      Seq(s"CAST(1.0 + $x AS REAL) AS wgt_thu_vbf_${sthsNames(i)}_up",
        s"CAST(1.0 - $x AS REAL) AS wgt_thu_vbf_${sthsNames(i)}_down")
    }.mkString(",\n ")
    // DuckDB infers DECIMAL for the VALUES literals; force DOUBLE so
    // the arithmetic matches the engine's IEEE doubles bit-for-bit
    val dblCols = (0 until 10).map(i => s"CAST(acc$i AS DOUBLE) AS acc$i")
      .mkString(", ")
    s"""WITH dim0(stxs_cat, $accCols, xsec) AS (VALUES
       | $rows),
       |dim AS (SELECT stxs_cat, $dblCols, CAST(xsec AS DOUBLE) AS xsec FROM dim0),
       |ev AS (SELECT event_id, 200 + event_id % 25 AS stxs_cat FROM events)
       |SELECT ev.event_id, ev.stxs_cat,
       | $varCols
       |FROM ev JOIN dim ON ev.stxs_cat = dim.stxs_cat
       |ORDER BY ev.event_id""".stripMargin
  }

  // ---- l27: PDF MC-replica fan-out (the 2016 branch) -----------------------
  // `stage1/corrections/pdf_variations.py:5-21`: the pre-NNPDF-3.1 era
  // materializes the first `max_replicas` LHEPdfWeight replicas as
  // per-event columns pdf_mcreplica0..99 and NaN-pads the rest, where
  // max_replicas depends on the dataset (dy → 100, ewk → 33, else
  // 100). The 2rms branch (:21-28) is a09. Same in-row jagged-array
  // discipline as l25: 100 element picks from one transform'd array,
  // no explode, no join — a pure single-scan projection however many
  // replica columns fan out. (Spot-check: ewk rows carry NaN from
  // column 33 on; dy/ttbar rows are fully populated.)
  private val l27Reps = 100
  private def l27ElemSql(k: String) =
    s"(0.9 + ((event_id * 13 + $k * 7) % 21) / 100.0)"
  private def l27(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val base = ev.select(col("event_id"),
        expr("CASE user_id % 3 WHEN 0 THEN 'dy_m105_160_amc' WHEN 1 THEN 'ewk_lljj' ELSE 'ttjets_dl' END").as("dataset"))
      .withColumn("max_replicas",
        expr("CASE WHEN dataset LIKE '%dy%' THEN 100 WHEN dataset LIKE '%ewk%' THEN 33 ELSE 100 END"))
      .withColumn("pdfw", expr(
        s"transform(sequence(0, ${l27Reps - 1}), k -> ${l27ElemSql("k")})"))
    val reps = (0 until l27Reps).map { i =>
      expr(s"CASE WHEN $i < max_replicas THEN element_at(pdfw, ${i + 1}) " +
        "ELSE CAST('NaN' AS DOUBLE) END")
        .cast("float").as(s"pdf_mcreplica$i")
    }
    base.select((Seq(col("event_id"), col("dataset"), col("max_replicas")) ++ reps): _*)
      .orderBy(col("event_id"))
  }
  private val l27Sql: String = {
    val reps = (0 until l27Reps).map { i =>
      s"CAST(CASE WHEN $i < max_replicas THEN ${l27ElemSql(i.toString)} " +
        s"ELSE CAST('NaN' AS DOUBLE) END AS REAL) AS pdf_mcreplica$i"
    }.mkString(",\n ")
    s"""WITH base AS (
       | SELECT event_id,
       |  CASE user_id % 3 WHEN 0 THEN 'dy_m105_160_amc' WHEN 1 THEN 'ewk_lljj' ELSE 'ttjets_dl' END AS dataset
       | FROM events),
       |b2 AS (
       | SELECT *,
       |  CASE WHEN dataset LIKE '%dy%' THEN 100 WHEN dataset LIKE '%ewk%' THEN 33 ELSE 100 END AS max_replicas
       | FROM base)
       |SELECT event_id, dataset, max_replicas,
       | $reps
       |FROM b2 ORDER BY event_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l27_pdf_mcreplica" -> (l27 _),
    "l25_lhe_scale_weights" -> (l25 _),
    "l26_stxs_thu" -> (l26 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "l27_pdf_mcreplica" -> l27Sql,
    "l25_lhe_scale_weights" -> l25Sql,
    "l26_stxs_thu" -> l26Sql
  ).view
}
