package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.agg.Histogrammer
import graft.weights.WeightBuilder

/** Aggregation (A*), relational-misc (R*) and join (J*) operators of
  * SURVEY.md §2.3–2.5, phrased over the TPC-H-ish test tables.
  *
  * Conventions (shared by every family):
  *  - every computed floating column is cast to float32 in BOTH engines,
  *    absorbing last-ulp double differences from summation order;
  *  - deterministic ORDER BY with a unique tie-breaker on both sides;
  *  - hyperbolics/buckets use the exact same expression text as the SQL.
  */
object RelationalQueries extends QueryFamily {

  // ---- a01: per-group counts & sums (A1/A3; TPC-H Q1 shape) -------------
  // reference: stage1/processor.py:252-257 (count selected objects per
  // event), stage2/histogrammer.py:112-116 (weighted yields)
  private def a01(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("float").as("sum_qty"),
        sum(col("l_extendedprice")).cast("float").as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("float").as("sum_disc_price"),
        avg(col("l_discount")).cast("float").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  private val a01Sql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(l_quantity) AS REAL) AS sum_qty,
      | CAST(SUM(l_extendedprice) AS REAL) AS sum_base_price,
      | CAST(SUM(l_extendedprice * (1.0 - l_discount)) AS REAL) AS sum_disc_price,
      | CAST(AVG(l_discount) AS REAL) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- a02: per-group signed product (A2) -------------------------------
  // reference: stage1/processor.py:260 (OS charge product),
  // btag_weights.py:59-60 (per-event product of per-jet weights).
  // exp(sum(ln)) decomposition; strictly positive inputs here.
  private def a02(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    li.groupBy(col("l_orderkey"))
      .agg(exp(sum(log(lit(1.0) - col("l_discount")))).cast("float").as("prod_disc"),
           count(lit(1)).as("n_items"))
      .orderBy(col("l_orderkey"))
  }
  private val a02Sql =
    """SELECT l_orderkey,
      | CAST(EXP(SUM(LN(1.0 - l_discount))) AS REAL) AS prod_disc,
      | COUNT(*) AS n_items
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- a04: top-k row per group, k=2 (A4/A5) ----------------------------
  // reference: stage1/processor.py:289-299 (mu1/mu2 extraction),
  // :656-667 (two leading jets). Window row_number over (group, ordered).
  private def a04(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
    li.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .select(col("l_orderkey"), col("rank"), col("l_linenumber"),
              col("l_extendedprice"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("rank"))
  }
  private val a04Sql =
    """SELECT l_orderkey, rank, l_linenumber, l_extendedprice, l_quantity FROM (
      | SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity,
      |  ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |                     ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rank
      | FROM lineitem) WHERE rank <= 2 ORDER BY l_orderkey, rank""".stripMargin

  // ---- a06: quantile categorization (A6) --------------------------------
  // reference: stage2/categorizer.py:26-36 (score quantiles -> category).
  // ntile is deterministic under a total order in both engines.
  private def a06(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val w = Window.partitionBy(col("event_type")).orderBy(col("value").asc, col("event_id").asc)
    ev.withColumn("cat", ntile(4).over(w))
      .select(col("event_id"), col("event_type"), col("cat"))
      .orderBy(col("event_id"))
  }
  private val a06Sql =
    """SELECT event_id, event_type,
      | NTILE(4) OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS cat
      |FROM events ORDER BY event_id""".stripMargin

  // ---- a07: cumulative weighted sum scan (A7) ---------------------------
  // reference: stage2/categorizer.py:89-117 (cumsum of weights by
  // descending score to find category boundaries).
  private def a07(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("cum_wgt", sum(col("value")).over(w).cast("float"))
      .select(col("event_id"), col("event_type"), col("cum_wgt"))
      .orderBy(col("event_id"))
  }
  private val a07Sql =
    """SELECT event_id, event_type,
      | CAST(SUM(value) OVER (PARTITION BY event_type
      |   ORDER BY value DESC, event_id ASC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS REAL) AS cum_wgt
      |FROM events ORDER BY event_id""".stripMargin

  // ---- a08: mean-normalization (A8) -------------------------------------
  // reference: stage1/corrections/qgl_weights.py:11-13 (divide weight by
  // its mean over a selected subset). Global scalar -> broadcast divide.
  private def a08(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val sel = li.filter(col("l_quantity") > 25.0)
      .withColumn("wgt", lit(1.0) + col("l_tax"))
    val mean = sel.agg(avg(col("wgt")).as("mean_wgt"))
    sel.crossJoin(broadcast(mean))
      .select(col("l_orderkey"), col("l_linenumber"),
              (col("wgt") / col("mean_wgt")).cast("float").as("wgt_norm"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }
  private val a08Sql =
    """SELECT l_orderkey, l_linenumber,
      | CAST((1.0 + l_tax) / m.mean_wgt AS REAL) AS wgt_norm
      |FROM lineitem CROSS JOIN
      | (SELECT AVG(1.0 + l_tax) AS mean_wgt FROM lineitem WHERE l_quantity > 25.0) m
      |WHERE l_quantity > 25.0 ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- a09: spread of a weight vector (A9) ------------------------------
  // reference: stage1/corrections/pdf_variations.py:21-28 (1 ± 2*std of
  // replica weights).
  private def a09(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    ev.groupBy(col("event_type"))
      .agg((lit(1.0) + lit(2.0) * stddev_samp(col("value"))).cast("float").as("pdf_up"),
           (lit(1.0) - lit(2.0) * stddev_samp(col("value"))).cast("float").as("pdf_down"))
      .orderBy(col("event_type"))
  }
  private val a09Sql =
    """SELECT event_type,
      | CAST(1.0 + 2.0 * STDDEV_SAMP(value) AS REAL) AS pdf_up,
      | CAST(1.0 - 2.0 * STDDEV_SAMP(value) AS REAL) AS pdf_down
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- a10: weighted histogram fill (A10) — THE flagship aggregation ----
  // reference: stage2/histogrammer.py:10-133. groupBy(axes, bucket) with
  // sum(w)/sum(w*w); map-side partial agg keeps the shuffle tiny at scale.
  private val histLo = 0.0; private val histHi = 160.0; private val histN = 40
  private def a10(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val mass = col("o_totalprice") % lit(160.0)
    val region = graft.physics.Selections.regionLabel(mass)
    val w = lit(1.0) + col("o_totalprice") / lit(1.0e6)
    Histogrammer.histogram(
      o.select(mass.as("mass"), region.as("region"), w.as("w")),
      Seq(col("region")), col("mass"), col("w"), histLo, histHi, histN)
      .orderBy(col("region"), col("bin"))
  }
  private val a10Sql = {
    val mass = "(o_totalprice % 160.0)"
    val region = regionCaseSql(mass)
    val b = Histogrammer.bucketSql("mass", histLo, histHi, histN)
    s"""SELECT region, $b AS bin,
       | CAST(SUM(w) AS REAL) AS value, CAST(SUM(w * w) AS REAL) AS sumw2
       |FROM (SELECT $mass AS mass, $region AS region,
       |             1.0 + o_totalprice / 1.0e6 AS w FROM orders)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Region-label CASE shared with PhysicsQueries (p08). Mirrors
    * Selections.regionLabel / stage1/processor.py:471-478. */
  def regionCaseSql(m: String): String =
    s"(CASE WHEN $m > 76.0 AND $m < 106.0 THEN 'z-peak' " +
      s"WHEN ($m > 110.0 AND $m < 115.03) OR ($m > 135.03 AND $m < 150.0) THEN 'h-sidebands' " +
      s"WHEN $m >= 115.03 AND $m <= 135.03 THEN 'h-peak' ELSE 'none' END)"

  // ---- a11: histogram merge (A11) ---------------------------------------
  // reference: stage3/make_templates.py:92-157 — merging partial
  // histograms is just re-aggregating a union; oracle is the single-pass
  // histogram, proving merge associativity.
  private def a11(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val mass = col("o_totalprice") % lit(160.0)
    val region = graft.physics.Selections.regionLabel(mass)
    val w = lit(1.0) + col("o_totalprice") / lit(1.0e6)
    val base = o.select(col("o_orderkey"), mass.as("mass"), region.as("region"), w.as("w"))
    val half1 = base.filter(col("o_orderkey") % 2 === 0)
    val half2 = base.filter(col("o_orderkey") % 2 =!= 0)
    def partial(df: DataFrame) =
      df.groupBy(col("region"), Histogrammer.bucket(col("mass"), histLo, histHi, histN).as("bin"))
        .agg(sum(col("w")).as("value"), sum(col("w") * col("w")).as("sumw2"))
    partial(half1).unionByName(partial(half2))
      .groupBy(col("region"), col("bin"))
      .agg(sum(col("value")).cast("float").as("value"),
           sum(col("sumw2")).cast("float").as("sumw2"))
      .orderBy(col("region"), col("bin"))
  }
  // same result as a single pass (values float-cast to absorb order)
  private val a11Sql = a10Sql

  // ---- a12: shape-only renormalization (A12) ----------------------------
  // reference: stage3/make_templates.py:17-24,139-145 — scale a varied
  // histogram so its integral matches nominal, per group.
  private def a12(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val mass = col("o_totalprice") % lit(160.0)
    val region = graft.physics.Selections.regionLabel(mass)
    val wNom = lit(1.0) + col("o_totalprice") / lit(1.0e6)
    val wVar = wNom * (lit(1.0) + (col("o_totalprice") % lit(7.0)) / lit(100.0))
    val hist = o.select(mass.as("mass"), region.as("region"), wNom.as("wn"), wVar.as("wv"))
      .groupBy(col("region"), Histogrammer.bucket(col("mass"), histLo, histHi, histN).as("bin"))
      .agg(sum(col("wn")).as("nom"), sum(col("wv")).as("vr"))
    val w = Window.partitionBy(col("region"))
    hist.withColumn("scale", sum(col("nom")).over(w) / sum(col("vr")).over(w))
      .select(col("region"), col("bin"),
              (col("vr") * col("scale")).cast("float").as("renormed"))
      .orderBy(col("region"), col("bin"))
  }
  private val a12Sql = {
    val b = Histogrammer.bucketSql("mass", histLo, histHi, histN)
    s"""SELECT region, bin,
       | CAST(vr * (SUM(nom) OVER (PARTITION BY region) /
       |            SUM(vr) OVER (PARTITION BY region)) AS REAL) AS renormed
       |FROM (
       | SELECT region, $b AS bin, SUM(wn) AS nom, SUM(wv) AS vr
       | FROM (SELECT (o_totalprice % 160.0) AS mass,
       |        ${regionCaseSql("(o_totalprice % 160.0)")} AS region,
       |        1.0 + o_totalprice / 1.0e6 AS wn,
       |        (1.0 + o_totalprice / 1.0e6) * (1.0 + (o_totalprice % 7.0) / 100.0) AS wv
       |       FROM orders)
       | GROUP BY 1, 2)
       |ORDER BY region, bin""".stripMargin
  }

  // ---- a13: normalization-preserving reweight (A13) ---------------------
  // reference: stage1/corrections/btag_weights.py:63-69 — scale = sum(w
  // before)/sum(w*btag after), applied row-wise.
  private def a13(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val w = lit(1.0) - col("l_discount")
    val btag = lit(0.9) + col("l_quantity") / lit(500.0)
    val base = li.select(col("l_orderkey"), col("l_linenumber"), w.as("w"), btag.as("btag"))
    val scale = base.agg((sum(col("w")) / sum(col("w") * col("btag"))).as("scale"))
    base.crossJoin(broadcast(scale))
      .select(col("l_orderkey"), col("l_linenumber"),
              (col("w") * col("btag") * col("scale")).cast("float").as("wgt_btag_norm"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }
  private val a13Sql =
    """SELECT l_orderkey, l_linenumber,
      | CAST((1.0 - l_discount) * (0.9 + l_quantity / 500.0) * m.scale AS REAL) AS wgt_btag_norm
      |FROM lineitem CROSS JOIN
      | (SELECT SUM(1.0 - l_discount) /
      |         SUM((1.0 - l_discount) * (0.9 + l_quantity / 500.0)) AS scale
      |  FROM lineitem) m
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- a15: weight accumulator fold with variations (A15) ---------------
  // reference: stage1/weights.py:11-71. One projection emits nominal +
  // up/down/off columns — single codegen stage, no per-variation pass.
  private def a15(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val wb = WeightBuilder()
      .add("disc", lit(1.0) - col("l_discount"),
           lit(1.0) - lit(0.95) * col("l_discount"),
           lit(1.0) - lit(1.05) * col("l_discount"))
      .add("tax", lit(1.0) + col("l_tax"),
           lit(1.0) + lit(1.1) * col("l_tax"),
           lit(1.0) + lit(0.9) * col("l_tax"))
      .add("qty", lit(0.9) + col("l_quantity") / lit(500.0))
    val named = wb.named.map { case (n, c) => c.cast("float").as(n) }
    li.select((Seq(col("l_orderkey"), col("l_linenumber")) ++ named): _*)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }
  private val a15Sql =
    """SELECT l_orderkey, l_linenumber,
      | CAST((1.0 - l_discount) * (1.0 + l_tax) * (0.9 + l_quantity / 500.0) AS REAL) AS wgt_nominal,
      | CAST((1.0 + l_tax) * (0.9 + l_quantity / 500.0) * (1.0 - 0.95 * l_discount) AS REAL) AS wgt_disc_up,
      | CAST((1.0 + l_tax) * (0.9 + l_quantity / 500.0) * (1.0 - 1.05 * l_discount) AS REAL) AS wgt_disc_down,
      | CAST((1.0 + l_tax) * (0.9 + l_quantity / 500.0) AS REAL) AS wgt_disc_off,
      | CAST((1.0 - l_discount) * (0.9 + l_quantity / 500.0) * (1.0 + 1.1 * l_tax) AS REAL) AS wgt_tax_up,
      | CAST((1.0 - l_discount) * (0.9 + l_quantity / 500.0) * (1.0 + 0.9 * l_tax) AS REAL) AS wgt_tax_down,
      | CAST((1.0 - l_discount) * (0.9 + l_quantity / 500.0) AS REAL) AS wgt_tax_off,
      | CAST((1.0 - l_discount) * (1.0 + l_tax) AS REAL) AS wgt_qty_off
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- a16: yield-effect report (A16) -----------------------------------
  // reference: stage1/weights.py:81-96 — % change of total yield with a
  // weight on vs off.
  private def a16(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val nom = (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))
    val offDisc = lit(1.0) + col("l_tax")
    val offTax = lit(1.0) - col("l_discount")
    li.agg(
      ((sum(nom) - sum(offDisc)) / sum(offDisc) * 100.0).cast("float").as("disc_effect_pct"),
      ((sum(nom) - sum(offTax)) / sum(offTax) * 100.0).cast("float").as("tax_effect_pct"))
  }
  private val a16Sql =
    """SELECT
      | CAST((SUM((1.0 - l_discount) * (1.0 + l_tax)) - SUM(1.0 + l_tax))
      |      / SUM(1.0 + l_tax) * 100.0 AS REAL) AS disc_effect_pct,
      | CAST((SUM((1.0 - l_discount) * (1.0 + l_tax)) - SUM(1.0 - l_discount))
      |      / SUM(1.0 - l_discount) * 100.0 AS REAL) AS tax_effect_pct
      |FROM lineitem""".stripMargin

  // ---- r02: global sort + top-N (R2) ------------------------------------
  private def r02(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    o.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(100)
  }
  private val r02Sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin

  // ---- r04: union / concat with missing columns (R4) --------------------
  // reference: python/io.py:73 (dd.concat of per-file frames with
  // heterogeneous schemas) -> unionByName(allowMissingColumns).
  private def r04(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val p1 = ev.filter(col("event_type") === "click").select(col("event_id"), col("value"))
    val p2 = ev.filter(col("event_type") === "error").select(col("event_id"), col("event_type"))
    p1.unionByName(p2, allowMissingColumns = true).orderBy(col("event_id"))
  }
  private val r04Sql =
    """SELECT event_id, value, NULL AS event_type FROM events WHERE event_type = 'click'
      |UNION ALL
      |SELECT event_id, NULL AS value, event_type FROM events WHERE event_type = 'error'
      |ORDER BY event_id""".stripMargin

  // ---- r05: distinct (R5) ------------------------------------------------
  private def r05(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "events").select(col("event_type")).distinct()
      .orderBy(col("event_type"))
  private val r05Sql =
    "SELECT DISTINCT event_type FROM events ORDER BY event_type"

  // ---- r07: deterministic drop-duplicates (R7) ---------------------------
  // reference: stage1/processor.py:596-599 — dedup after variant fan-out.
  // dropDuplicates keeps an arbitrary row; the deterministic form is a
  // min-rank window, which is what we expose.
  private def r07(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
    // (.., l_extendedprice) is — full tie-break keeps this deterministic.
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber").asc, col("l_extendedprice").asc)
    li.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"))
  }
  private val r07Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
      | SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |                     ORDER BY l_linenumber ASC, l_extendedprice ASC) AS rn
      | FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin

  // ---- r09: min-metric pick per group (R9) -------------------------------
  // reference: stage3/fitter.py:42-44 (idxmin of chi2 per fit group).
  private def r09(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val w = Window.partitionBy(col("event_type")).orderBy(col("value").asc, col("event_id").asc)
    ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_type"), col("event_id"), col("value"))
      .orderBy(col("event_type"))
  }
  private val r09Sql =
    """SELECT event_type, event_id, value FROM (
      | SELECT event_type, event_id, value,
      |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn
      | FROM events) WHERE rn = 1 ORDER BY event_type""".stripMargin

  // ---- j01: event-local index join via array element_at (J1/J2/J3) ------
  // reference: stage1/corrections/fsr_recovery.py:6-13 — Muon.fsrPhotonIdx
  // references the event-local photon list. Array form: collect the
  // per-event collection once, element_at by index — zero shuffle beyond
  // the initial groupBy, no N-way join.
  private def j01(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val arr = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_extendedprice"))))
             .as("items"))
    arr.select(col("l_orderkey"),
        element_at(col("items"), (pmod(col("l_orderkey"), size(col("items"))) + 1).cast("int"))
          .getField("l_extendedprice").as("ref_price"),
        size(col("items")).as("n_items"))
      .orderBy(col("l_orderkey"))
  }
  private val j01Sql =
    """SELECT l_orderkey,
      | items[CAST(l_orderkey % len(items) AS BIGINT) + 1] AS ref_price,
      | len(items) AS n_items
      |FROM (SELECT l_orderkey,
      |        LIST(l_extendedprice ORDER BY l_linenumber ASC, l_extendedprice ASC) AS items
      |      FROM lineitem GROUP BY 1)
      |ORDER BY l_orderkey""".stripMargin

  // ---- j04: theta-join cleaning / anti semi-join (J4, P6) ----------------
  // reference: stage1/processor.py:561-577 — a jet is dirty if any
  // selected muon lies within dR<0.4; keep clean jets (NOT EXISTS).
  private def j04(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val jets = li.filter(col("l_quantity") >= 30.0)
    val muons = li.filter(col("l_quantity") <= 5.0)
      .select(col("l_orderkey").as("m_orderkey"), col("l_discount").as("m_discount"))
    jets.join(muons,
        jets("l_orderkey") === muons("m_orderkey") &&
          abs(jets("l_discount") - muons("m_discount")) < 0.02,
        "left_anti")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }
  private val j04Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem j
      |WHERE l_quantity >= 30.0 AND NOT EXISTS (
      | SELECT 1 FROM lineitem m WHERE m.l_orderkey = j.l_orderkey
      |  AND m.l_quantity <= 5.0 AND ABS(j.l_discount - m.l_discount) < 0.02)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- j05: per-event cross-product isolation (J5) -----------------------
  // reference: stage1/jets.py:181-244 — ak.cartesian(jets x leptons) per
  // event; keep jets whose min distance to all leptons exceeds a cut.
  private def j05(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val jets = li.filter(col("l_quantity") >= 30.0)
      .select(col("l_orderkey"), col("l_linenumber"),
              (col("l_discount") * 40.0 - 2.0).as("eta"),
              (col("l_tax") * 78.0 - 3.12).as("phi"))
    val leps = li.filter(col("l_quantity") <= 5.0)
      .select(col("l_orderkey").as("lo"), (col("l_discount") * 40.0 - 2.0).as("leta"),
              (col("l_tax") * 78.0 - 3.12).as("lphi"))
    import graft.physics.Kinematics._
    jets.join(leps, jets("l_orderkey") === leps("lo"), "left")
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(coalesce(min(deltaR(col("eta"), col("phi"), col("leta"), col("lphi"))), lit(999.0))
             .cast("float").as("min_dr"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }
  private val j05Sql = {
    val de = "ABS(j.eta - l.leta)"
    val dp = "ABS((((j.phi - l.lphi + PI()) % (2*PI())) + (2*PI())) % (2*PI()) - PI())"
    s"""SELECT j.l_orderkey, j.l_linenumber,
       | CAST(COALESCE(MIN(SQRT($de * $de + $dp * $dp)), 999.0) AS REAL) AS min_dr
       |FROM (SELECT l_orderkey, l_linenumber, l_discount * 40.0 - 2.0 AS eta,
       |             l_tax * 78.0 - 3.12 AS phi
       |      FROM lineitem WHERE l_quantity >= 30.0) j
       |LEFT JOIN (SELECT l_orderkey AS lo, l_discount * 40.0 - 2.0 AS leta,
       |                  l_tax * 78.0 - 3.12 AS lphi
       |           FROM lineitem WHERE l_quantity <= 5.0) l
       |  ON j.l_orderkey = l.lo
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- j06: footprint match + aggregate (J6) -----------------------------
  // reference: stage1/jets.py:247-289 — soft objects within a distance of
  // any reference object are "footprint"; count and HT-sum them per event.
  private def j06(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
    val refs = li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select(col("l_orderkey").as("r_orderkey"), col("l_extendedprice").as("r_price"))
    val soft = li.filter(col("l_quantity") < 10.0)
    soft.join(refs,
        soft("l_orderkey") === refs("r_orderkey") &&
          abs(soft("l_extendedprice") - refs("r_price")) < 2000.0,
        "left_semi")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_footprint"),
           sum(col("l_extendedprice")).cast("float").as("ht_footprint"))
      .orderBy(col("l_orderkey"))
  }
  private val j06Sql =
    """SELECT s.l_orderkey, COUNT(*) AS n_footprint,
      | CAST(SUM(s.l_extendedprice) AS REAL) AS ht_footprint
      |FROM (SELECT * FROM lineitem WHERE l_quantity < 10.0) s
      |WHERE EXISTS (
      | SELECT 1 FROM (
      |   SELECT l_orderkey, l_extendedprice,
      |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |                       ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
      |   FROM lineitem) r
      | WHERE r.rn <= 2 AND r.l_orderkey = s.l_orderkey
      |   AND ABS(s.l_extendedprice - r.l_extendedprice) < 2000.0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- j08: broadcast dimension joins (J8) -------------------------------
  // reference: config/cross_sections.py + run_stage3.py:66-95 — dataset ->
  // xsec/group lookups; here lineitem -> part -> (brand grouping).
  private def j08(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val p = rd(s, dir, "part")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
           sum(col("l_quantity")).cast("float").as("sum_qty"),
           sum(col("l_extendedprice") * col("p_retailprice")).cast("float").as("weighted"))
      .orderBy(col("p_brand"))
  }
  private val j08Sql =
    """SELECT p_brand, COUNT(*) AS n,
      | CAST(SUM(l_quantity) AS REAL) AS sum_qty,
      | CAST(SUM(l_extendedprice * p_retailprice) AS REAL) AS weighted
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- r12: full outer join reconciliation ---------------------------------
  // The two-snapshot diff every pipeline runs after a backfill: which
  // keys exist only in period A, only in period B, or both — a FULL
  // OUTER join of two aggregates with coalesced keys. Both sides are
  // groupBy reductions of the same fact scan, so at scale this is two
  // map-side-combined aggregations meeting in one shuffle-hash join on
  // the group key; no side is assumed small.
  private def r12(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val a = o.filter(col("o_orderdate") < "1995-01-01")
      .groupBy(col("o_custkey").as("ck_a")).agg(count(lit(1)).as("n_early"))
    val b = o.filter(col("o_orderdate") >= "1995-01-01")
      .groupBy(col("o_custkey").as("ck_b")).agg(count(lit(1)).as("n_late"))
    a.join(b, col("ck_a") === col("ck_b"), "full_outer")
      .select(coalesce(col("ck_a"), col("ck_b")).as("custkey"),
        coalesce(col("n_early"), lit(0L)).as("n_early"),
        coalesce(col("n_late"), lit(0L)).as("n_late"),
        when(col("ck_a").isNull, "late_only")
          .when(col("ck_b").isNull, "early_only")
          .otherwise("both").as("status"))
      .orderBy(col("custkey"))
  }
  private val r12Sql =
    """WITH a AS (SELECT o_custkey AS ck_a, COUNT(*) AS n_early FROM orders
      |           WHERE o_orderdate < '1995-01-01' GROUP BY 1),
      |b AS (SELECT o_custkey AS ck_b, COUNT(*) AS n_late FROM orders
      |      WHERE o_orderdate >= '1995-01-01' GROUP BY 1)
      |SELECT COALESCE(ck_a, ck_b) AS custkey,
      | COALESCE(n_early, 0) AS n_early,
      | COALESCE(n_late, 0) AS n_late,
      | CASE WHEN ck_a IS NULL THEN 'late_only'
      |      WHEN ck_b IS NULL THEN 'early_only'
      |      ELSE 'both' END AS status
      |FROM a FULL JOIN b ON ck_a = ck_b
      |ORDER BY custkey""".stripMargin

  // ---- r13: EXCEPT set difference ------------------------------------------
  // Distinct set difference (customers who ordered but never urgently).
  // EXCEPT plans as a left-anti hash join over distinct keys — one
  // shuffle each side, no row explosion.
  private def r13(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    o.select(col("o_custkey").as("custkey")).distinct()
      .except(o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey")).distinct())
      .orderBy(col("custkey"))
  }
  private val r13Sql =
    """SELECT DISTINCT o_custkey AS custkey FROM orders
      |EXCEPT
      |SELECT DISTINCT o_custkey AS custkey FROM orders
      | WHERE o_orderpriority = '1-URGENT'
      |ORDER BY custkey""".stripMargin

  // ---- a21: CUBE over two dimensions ---------------------------------------
  // Every (priority x segment-bucket) slice PLUS both marginals PLUS the
  // grand total in ONE pass — the full cross-tab a17's ROLLUP only
  // half-covers. Count/integer-sum aggregates keep the cube
  // order-insensitive by construction.
  private def a21(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    o.select(col("o_orderpriority").as("priority"),
        (col("o_custkey") % 4).as("seg"),
        col("o_totalprice"))
      .cube(col("priority"), col("seg"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)")
          .as("cents"))
      .select(coalesce(col("priority"), lit("ALL")).as("priority"),
        coalesce(col("seg").cast("string"), lit("ALL")).as("seg"),
        col("n"), col("cents"))
      .orderBy(col("priority"), col("seg"))
  }
  private val a21Sql =
    """SELECT COALESCE(priority, 'ALL') AS priority,
      | COALESCE(CAST(seg AS VARCHAR), 'ALL') AS seg,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM (SELECT o_orderpriority AS priority, o_custkey % 4 AS seg, o_totalprice
      |      FROM orders)
      |GROUP BY CUBE (priority, seg)
      |ORDER BY 1, 2""".stripMargin

  // ---- a22: analytic window-function suite ---------------------------------
  // The remaining SQL window functions in one deterministic frame:
  // lag/lead, percent_rank, cume_dist, and nth_value over each user's
  // event sequence ordered by (ts, event_id) — rank arithmetic is
  // integer-derived on both engines, so doubles match exactly.
  private def a22(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wf = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    e.select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("us"),
        col("value").cast("float").as("v"))
      .select(col("event_id"), col("user_id"),
        lag(col("v"), 1).over(w).as("prev_v"),
        lead(col("v"), 1).over(w).as("next_v"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        nth_value(col("v"), 3).over(wf).as("third_v"))
      .orderBy(col("event_id"))
  }
  private val a22Sql =
    """SELECT event_id, user_id,
      | LAG(v, 1) OVER w AS prev_v,
      | LEAD(v, 1) OVER w AS next_v,
      | PERCENT_RANK() OVER w AS pr,
      | CUME_DIST() OVER w AS cd,
      | NTH_VALUE(v, 3) OVER (PARTITION BY user_id ORDER BY us, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_v
      |FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
      |        CAST(value AS REAL) AS v FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |ORDER BY event_id""".stripMargin

  // ---- r14: star-schema join (TPC-H Q5 shape) -----------------------------
  // Revenue per nation for one region's urgent orders: the canonical
  // fact-plus-dimension-chain plan. lineitem ⋈ orders is the one
  // genuine big-big shuffle; customer → nation → region collapse to
  // broadcast hash joins (Catalyst picks them by size; the region/
  // priority filters push into the dimension scans, so the broadcast
  // sides shrink BEFORE the join). Revenue terms are micro-quantized
  // longs before the group sum — the per-group fold order differs
  // between engines, and l_extendedprice·(1−l_discount) is exact at
  // 1e-4 resolution.
  private def r14(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val o = rd(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    val c = rd(s, dir, "customer")
    val n = rd(s, dir, "nation")
    val r = rd(s, dir, "region").filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .withColumn("rev_q", expr(
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5) AS BIGINT)"))
      .groupBy(col("n_name"))
      .agg((sum(col("rev_q")) / 10000.0).cast("float").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }
  private val r14Sql =
    """SELECT n_name,
      | CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5) AS BIGINT))
      |      / 10000.0 AS REAL) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderpriority = '1-URGENT' AND r_name = 'ASIA'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- r15: 2-D skyline (Pareto frontier) ----------------------------------
  // Non-dominated rows under (maximize quantity, minimize price) —
  // the skyline operator (Borzsony/Kossmann/Stocker, ICDE 2001).
  // Spark-first shape exploits the 2-D case's sort order: collapse to
  // the per-price max quantity (one map-side-combined shuffle whose
  // key count is |distinct prices|, not |rows|), then a price-ordered
  // strictly-preceding running max picks exactly the prices whose best
  // quantity improves on everything cheaper; a semi-join back tags
  // surviving rows (equal-price/equal-quantity duplicates are mutually
  // non-dominating and all kept). The ordered window runs over the
  // REDUCED per-price table, and skyline is decomposable (skyline of
  // partition skylines = global skyline) if that table ever outgrew
  // one task. Oracle is the O(n^2) NOT EXISTS dominance definition —
  // independent algebra, same set. Input is a deterministic 1/41
  // orderkey slice so the quadratic oracle stays cheap at sf scale.
  private def r15(s: SparkSession, dir: String): DataFrame = {
    val pts = rd(s, dir, "lineitem")
      .filter(col("l_orderkey") % 41 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"))
    val perPrice = pts.groupBy(col("price")).agg(max(col("qty")).as("mq"))
    val wPrice = Window.orderBy(col("price").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val skyPrices = perPrice
      .withColumn("best_cheaper", max(col("mq")).over(wPrice))
      .filter(col("best_cheaper").isNull || col("mq") > col("best_cheaper"))
      .select(col("price"), col("mq"))
    pts.join(skyPrices, Seq("price"))
      .filter(col("qty") === col("mq"))
      .select(col("l_orderkey"), col("l_linenumber"), col("qty"), col("price"))
      .orderBy(col("price"), col("l_orderkey"), col("l_linenumber"))
  }
  private val r15Sql =
    """WITH pts AS (
      | SELECT l_orderkey, l_linenumber, l_quantity AS qty,
      |  l_extendedprice AS price
      | FROM lineitem WHERE l_orderkey % 41 = 0)
      |SELECT l_orderkey, l_linenumber, qty, price FROM pts a
      |WHERE NOT EXISTS (
      | SELECT 1 FROM pts b
      | WHERE b.price <= a.price AND b.qty >= a.qty
      |  AND (b.price < a.price OR b.qty > a.qty))
      |ORDER BY price, l_orderkey, l_linenumber""".stripMargin

  // ---- a26: deterministic mode (most frequent value) per group -------------
  // Spark's built-in `mode` leaves ties unspecified; the reproducible
  // form every pipeline actually wants is count-then-argmax with a
  // total tie order (highest count, then smallest value). One groupBy
  // + one tiny window over the (group, value) cell table — the window
  // sorts |groups|·|distinct values| cells, never input rows.
  private def a26(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val cells = o.groupBy(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("status"))
      .orderBy(col("cnt").desc, col("prio").asc)
    cells.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("status"), col("prio").as("mode_prio"), col("cnt"))
      .orderBy(col("status"))
  }
  private val a26Sql =
    """SELECT status, prio AS mode_prio, cnt FROM (
      | SELECT o_orderstatus AS status, o_orderpriority AS prio,
      |  COUNT(*) AS cnt,
      |  ROW_NUMBER() OVER (PARTITION BY o_orderstatus
      |    ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
      | FROM orders GROUP BY 1, 2)
      |WHERE rn = 1 ORDER BY status""".stripMargin

  // ---- a28: top-k per group via the NATIVE bounded aggregate ---------------
  // a04's semantics (two leading rows per order — the reference's
  // leading-muons/jets extraction) re-planned through plans.TopKPairs:
  // `topk_max(sort, payload, k)` keeps k pairs of state PER GROUP and
  // merges map-side, so the plan is ObjectHashAggregate partial →
  // exchange (groups × k pairs) → final — where a04's window form
  // shuffles and sorts EVERY input row. At 100 TB that is the
  // difference between a full-data range sort and a groups-sized
  // shuffle. Price is centi-quantized to a long (exact compare);
  // ranking is over DISTINCT (price_cents, linenumber) pairs — the
  // aggregate's set semantics, mirrored in the oracle (the synthetic
  // lineitem can repeat (orderkey, linenumber, price)).
  private def a28(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    li.groupBy(col("l_orderkey"))
      .agg(expr(
        "topk_max(CAST(floor(l_extendedprice * 100) AS BIGINT), l_linenumber, 2)")
        .as("top"))
      .select(col("l_orderkey"), posexplode(col("top")))
      .select(col("l_orderkey"), (col("pos") + 1).cast("long").as("rank"),
        col("col.payload").as("l_linenumber"), col("col.sort").as("price_cents"))
      .orderBy(col("l_orderkey"), col("rank"))
  }
  private val a28Sql =
    """WITH d AS (
      | SELECT DISTINCT l_orderkey,
      |  CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price_cents,
      |  l_linenumber
      | FROM lineitem),
      |r AS (
      | SELECT l_orderkey, price_cents, l_linenumber,
      |  ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |    ORDER BY price_cents DESC, l_linenumber ASC) AS rank
      | FROM d)
      |SELECT l_orderkey, rank, l_linenumber, price_cents
      |FROM r WHERE rank <= 2 ORDER BY l_orderkey, rank""".stripMargin

  // ---- r16: referential-integrity audit ------------------------------------
  // The foreign-key orphan report a warehouse runs after every load:
  // for each declared FK edge (lineitem→orders, lineitem→part,
  // lineitem→supplier, orders→customer), the child row count, the
  // count of child rows whose key has no parent (LEFT ANTI join), and
  // the distinct orphan key count. Spark-first shape: each relation is
  // one anti-join; the parent side projects ONLY the key column (so
  // the scan prunes to one column and the join build side is minimal —
  // small dims broadcast), and the four audits union into one report.
  // The oracle spells the same audit as NOT-IN subqueries — different
  // join algebra, same counts.
  private val fkEdges = Seq(
    ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"))
  private def r16(s: SparkSession, dir: String): DataFrame = {
    fkEdges.map { case (rel, child, ck, parent, pk) =>
      // audit is over NON-NULL child keys on both engines: anti-join
      // keeps a null-keyed row (no match) while NOT IN drops it, so a
      // shared null filter pins the two algebras to the same universe
      val c = rd(s, dir, child).select(col(ck).as("k")).filter(col("k").isNotNull)
      val p = rd(s, dir, parent).select(col(pk).as("k"))
      val orphans = c.join(p, Seq("k"), "left_anti")
      c.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans"),
          countDistinct(col("k")).as("n_orphan_keys")))
        .select(lit(rel).as("relation"), col("n_child"),
          col("n_orphans"), col("n_orphan_keys"))
    }.reduce(_ union _).orderBy(col("relation"))
  }
  private val r16Sql = fkEdges.map { case (rel, child, ck, parent, pk) =>
    s"""SELECT '$rel' AS relation,
       | (SELECT COUNT($ck) FROM $child) AS n_child,
       | COUNT(*) AS n_orphans,
       | COUNT(DISTINCT $ck) AS n_orphan_keys
       |FROM $child WHERE $ck IS NOT NULL
       |  AND $ck NOT IN (SELECT $pk FROM $parent)""".stripMargin
  }.mkString("SELECT relation, n_child, n_orphans, n_orphan_keys FROM (\n",
    "\nUNION ALL\n", "\n) ORDER BY relation")

  // ---- a27: column profiling report ----------------------------------------
  // The schema-quality summary every ingestion pipeline runs first:
  // per column — null count, exact distinct count, min and max — in
  // ONE scan of the table. Spark plans the multi-distinct aggregate
  // via Expand (one pass, k× row multiplication map-side, partials
  // combined before the single exchange), which is the right trade at
  // 100 TB versus k separate scans; min/max aggregate on the NATIVE
  // type and cast to string only at the end (lexicographic min of a
  // stringified number would be wrong). Profiled columns are the
  // BIGINT/VARCHAR ones so the stringified extremes render identically
  // on both engines. The oracle computes each column's row
  // independently — different algebra, same table.
  private val profCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
  private def a27(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val aggs = profCols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
    }
    val stackArgs = profCols
      .map(c => s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
    o.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), expr(
        s"stack(${profCols.length}, $stackArgs)" +
          " as (col_name, n_nulls, n_distinct, min_val, max_val)"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy(col("col_name"))
  }
  private val a27Sql = profCols.map { c =>
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
       | CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       | COUNT(DISTINCT $c) AS n_distinct,
       | CAST(MIN($c) AS VARCHAR) AS min_val,
       | CAST(MAX($c) AS VARCHAR) AS max_val
       |FROM orders""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---- a32: declarative data-expectations audit ----------------------------
  // The Deequ/Great-Expectations-style quality gate an ingestion
  // pipeline runs before publishing a table: a declared check suite
  // (completeness, uniqueness, range conformance, domain membership,
  // volume floor) evaluated in ONE scan — every violation counter is a
  // column of a single aggregate (map-side combined; the uniqueness
  // check rides the same Expand as a27's multi-distinct), then
  // unpivoted into one row per check with the observed value and the
  // pass verdict. At 100 TB this is exactly one pass over the table
  // however many checks are declared.
  private def a32(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val agged = o.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_null_key"),
      countDistinct(col("o_orderkey")).as("n_distinct_key"),
      sum(when(col("o_totalprice") < 0.0 || col("o_totalprice") > 1000000.0, 1L)
        .otherwise(0L)).as("n_price_oob"),
      sum(when(col("o_orderstatus").isin("F", "O", "P"), 0L).otherwise(1L))
        .as("n_status_bad"))
    agged.select(expr(
      """stack(5,
        | 'orderkey_not_null', n_null_key, n_null_key = 0,
        | 'orderkey_unique', n_rows - n_distinct_key, n_rows - n_distinct_key = 0,
        | 'totalprice_in_range', n_price_oob, n_price_oob = 0,
        | 'status_in_domain', n_status_bad, n_status_bad = 0,
        | 'min_row_count', n_rows, n_rows >= 1000
        |) AS (check_name, observed, passed)""".stripMargin))
      .orderBy(col("check_name"))
  }
  private val a32Sql =
    """WITH a AS (
      | SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_key,
      |  COUNT(DISTINCT o_orderkey) AS n_distinct_key,
      |  CAST(SUM(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1000000.0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_price_oob,
      |  CAST(SUM(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 0 ELSE 1 END)
      |    AS BIGINT) AS n_status_bad
      | FROM orders)
      |SELECT check_name, observed, passed FROM (
      | SELECT 'orderkey_not_null' AS check_name, n_null_key AS observed,
      |  n_null_key = 0 AS passed FROM a
      | UNION ALL
      | SELECT 'orderkey_unique', n_rows - n_distinct_key,
      |  n_rows - n_distinct_key = 0 FROM a
      | UNION ALL
      | SELECT 'totalprice_in_range', n_price_oob, n_price_oob = 0 FROM a
      | UNION ALL
      | SELECT 'status_in_domain', n_status_bad, n_status_bad = 0 FROM a
      | UNION ALL
      | SELECT 'min_row_count', n_rows, n_rows >= 1000 FROM a)
      |ORDER BY check_name""".stripMargin

  // ---- r17: FIFO lot matching (cumulative-interval overlap) -----------------
  // The allocation problem behind COGS/inventory accounting, payment
  // application and queue draining: consume supply lots in FIFO order
  // against demands in FIFO order, splitting lots as needed. The
  // classic relational solution (vs a per-key UDF loop): give every
  // supply lot its cumulative-quantity interval [cum−q, cum) and every
  // demand likewise; a lot funds a demand exactly where the intervals
  // OVERLAP, and the matched quantity is the overlap length —
  // matching becomes a per-key self-join with a range predicate, no
  // iteration at all. Supplies = 'N' lineitems in l_shipdate order,
  // demands = 'R' lineitems, per part.
  //
  // Scale design: two part-keyed cumulative windows (the one shuffle
  // inventory data already needs), then a PART-KEYED equi-join with
  // the range overlap as a residual predicate — never a cross join;
  // per-part lot counts bound the join fan-out. Quantities are exact
  // integers (l_quantity is integral in the synthetic data, summed as
  // longs), so overlap arithmetic is order-free.
  private def r17(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    def lots(flag: String, pfx: String) = {
      // explicit ROWS frame: the default RANGE frame sums full-key ties
      // together, which would diverge from the oracle's ROWS spelling if
      // two rows ever tie on all four sort keys
      val w = Window.partitionBy(col("pk"))
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
          col("l_linenumber").asc, col("l_extendedprice").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.filter(col("l_returnflag") === flag)
        .select(col("l_partkey").as("pk"),
          expr("CAST(l_quantity AS BIGINT)").as("q"),
          col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        .withColumn("cum", sum(col("q")).over(w))
        .select(col("pk"), col("q").as(s"${pfx}_q"),
          (col("cum") - col("q")).as(s"${pfx}_lo"),
          col("cum").as(s"${pfx}_hi"))
    }
    val sup = lots("N", "s")
    val dem = lots("R", "d")
    val matched = sup.join(dem, Seq("pk"))
      .filter(col("s_lo") < col("d_hi") && col("d_lo") < col("s_hi"))
      .select(col("pk"),
        (least(col("s_hi"), col("d_hi")) -
          greatest(col("s_lo"), col("d_lo"))).as("mq"))
    matched.groupBy(col("pk"))
      .agg(count(lit(1)).as("n_splits"),
        org.apache.spark.sql.functions.sum(col("mq")).as("matched_qty"))
      .orderBy(col("pk"))
  }
  private val r17Sql = {
    def lots(flag: String) =
      s"""SELECT l_partkey AS pk, CAST(l_quantity AS BIGINT) AS q,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
         |    PARTITION BY l_partkey
         |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC,
         |             l_extendedprice ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |   AS cum
         | FROM lineitem WHERE l_returnflag = '$flag'"""
    s"""WITH sup AS (
       | SELECT pk, q AS s_q, cum - q AS s_lo, cum AS s_hi FROM (${lots("N")})),
       |dem AS (
       | SELECT pk, q AS d_q, cum - q AS d_lo, cum AS d_hi FROM (${lots("R")}))
       |SELECT s.pk, COUNT(*) AS n_splits,
       | CAST(SUM(LEAST(s.s_hi, d.d_hi) - GREATEST(s.s_lo, d.d_lo)) AS BIGINT)
       |   AS matched_qty
       |FROM sup s JOIN dem d ON s.pk = d.pk
       | AND s.s_lo < d.d_hi AND d.d_lo < s.s_hi
       |GROUP BY s.pk ORDER BY s.pk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r17_fifo_lots" -> (r17 _),
    "a32_expectations" -> (a32 _),
    "a27_column_profile" -> (a27 _),
    "a28_native_topk" -> (a28 _),
    "r16_fk_orphans" -> (r16 _),
    "r15_skyline_2d" -> (r15 _),
    "a26_mode_per_group" -> (a26 _),
    "r12_full_outer_reconcile" -> (r12 _),
    "r13_except" -> (r13 _),
    "r14_star_join" -> (r14 _),
    "a21_cube_crosstab" -> (a21 _),
    "a22_window_suite" -> (a22 _),
    "a01_group_sums" -> (a01 _),
    "a02_group_product" -> (a02 _),
    "a04_topk_per_group" -> (a04 _),
    "a06_quantile_cat" -> (a06 _),
    "a07_cumsum_window" -> (a07 _),
    "a08_mean_norm" -> (a08 _),
    "a09_weight_spread" -> (a09 _),
    "a10_weighted_histogram" -> (a10 _),
    "a11_hist_merge" -> (a11 _),
    "a12_shape_renorm" -> (a12 _),
    "a13_norm_preserving" -> (a13 _),
    "a15_weight_variations" -> (a15 _),
    "a16_yield_report" -> (a16 _),
    "r02_sort_topn" -> (r02 _),
    "r04_union_missing_cols" -> (r04 _),
    "r05_distinct" -> (r05 _),
    "r07_dedup_deterministic" -> (r07 _),
    "r09_argmin_per_group" -> (r09 _),
    "j01_index_join_array" -> (j01 _),
    "j04_cleaning_antijoin" -> (j04 _),
    "j05_isolation_crossjoin" -> (j05 _),
    "j06_footprint_semijoin" -> (j06 _),
    "j08_broadcast_dim_join" -> (j08 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "r17_fifo_lots" -> r17Sql,
    "a32_expectations" -> a32Sql,
    "a27_column_profile" -> a27Sql,
    "a28_native_topk" -> a28Sql,
    "r16_fk_orphans" -> r16Sql,
    "r15_skyline_2d" -> r15Sql,
    "a26_mode_per_group" -> a26Sql,
    "r12_full_outer_reconcile" -> r12Sql,
    "r13_except" -> r13Sql,
    "r14_star_join" -> r14Sql,
    "a21_cube_crosstab" -> a21Sql,
    "a22_window_suite" -> a22Sql,
    "a01_group_sums" -> a01Sql,
    "a02_group_product" -> a02Sql,
    "a04_topk_per_group" -> a04Sql,
    "a06_quantile_cat" -> a06Sql,
    "a07_cumsum_window" -> a07Sql,
    "a08_mean_norm" -> a08Sql,
    "a09_weight_spread" -> a09Sql,
    "a10_weighted_histogram" -> a10Sql,
    "a11_hist_merge" -> a11Sql,
    "a12_shape_renorm" -> a12Sql,
    "a13_norm_preserving" -> a13Sql,
    "a15_weight_variations" -> a15Sql,
    "a16_yield_report" -> a16Sql,
    "r02_sort_topn" -> r02Sql,
    "r04_union_missing_cols" -> r04Sql,
    "r05_distinct" -> r05Sql,
    "r07_dedup_deterministic" -> r07Sql,
    "r09_argmin_per_group" -> r09Sql,
    "j01_index_join_array" -> j01Sql,
    "j04_cleaning_antijoin" -> j04Sql,
    "j05_isolation_crossjoin" -> j05Sql,
    "j06_footprint_semijoin" -> j06Sql,
    "j08_broadcast_dim_join" -> j08Sql
  ).view
}
