package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lookup.BinnedLookup._

/** Binned-lookup / correction-factor operators (SURVEY.md §2.3 L1–L6).
  *
  * Every lookup table is tiny (10s of rows) and deterministic, so each
  * evaluation is a `broadcast()` range join — the event side never
  * shuffles, and Catalyst folds the join into the scan stage. The DuckDB
  * oracle gets the same table as a VALUES list.
  */
object LookupQueries extends QueryFamily {

  /** Codegen'd count-of-lows <= x over a sorted literal array (bin/knot
    * index arithmetic). Replaces the `size(filter(typedLit(...)))` HOF
    * spelling, which is CodegenFallback and interpreted the whole
    * projection per row (see SortedLowerCount). Identical semantics,
    * including the edges: NULL x -> 0, NaN x -> lows.length (NaN is the
    * LARGEST double in Spark SQL's total order, so `b <= NaN` is true
    * for every b — pinned in SortedLowerCountSpec). */
  private def lowerCount(x: org.apache.spark.sql.Column, lows: Seq[Double]) =
    org.apache.spark.sql.classic.GraftBridge.column(
      graft.plans.SortedLowerCount(
        org.apache.spark.sql.classic.GraftBridge.expression(x), lows))

  // ---- l01: 1-D binned SF lookup (L1, pileup-style) ----------------------
  // reference: stage1/corrections/pu_reweight.py:9-27,75-85 — dense_lookup
  // of an event scalar in a 1-D binned table.
  private val puBins: Seq[Bin1D] = (0 until 20).map { i =>
    Bin1D(i * 25.0, (i + 1) * 25.0, 1.0 + ((i * 7) % 13 - 6) / 100.0)
  }
  private def l01(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val bins = bins1DF(s, puBins)
    join1D(ev, bins, col("value"))
      .select(col("event_id"),
        coalesce(col("sf"), lit(1.0)).cast("float").as("pu_wgt"))
      .orderBy(col("event_id"))
  }
  private val l01Sql =
    s"""SELECT event_id,
       | CAST(COALESCE(sfb.sf, 1.0) AS REAL) AS pu_wgt
       |FROM events LEFT JOIN ${bins1Sql(puBins)}
       |  ON value >= sfb.lo AND value < sfb.hi
       |ORDER BY event_id""".stripMargin

  // ---- l02: 2-D binned SF lookup (L1, lepton-SF-style) -------------------
  // reference: stage1/corrections/lepton_sf.py:57-76 — SF(pt, |eta|) from
  // a 2-D histogram; out-of-range rows keep SF=1.
  private val lepBins: Seq[Bin2D] = for {
    (xlo, xhi, i) <- Seq((0.0, 20.0, 0), (20.0, 30.0, 1), (30.0, 50.0, 2), (50.0, 200.0, 3))
    (ylo, yhi, j) <- Seq((0.0, 0.9, 0), (0.9, 1.7, 1), (1.7, 2.4, 2))
  } yield Bin2D(xlo, xhi, ylo, yhi, 0.95 + (i * 3 + j) / 100.0)
  private def l02(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val withKin = li.select(col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"),
      (col("l_extendedprice") / lit(1000.0)).as("pt"),
      abs(col("l_discount") * 40.0 - 2.0).as("abseta"))
    join2D(withKin, bins2DF(s, lepBins), col("pt"), col("abseta"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        coalesce(col("sf"), lit(1.0)).cast("float").as("id_sf"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private val l02Sql =
    s"""SELECT l_orderkey, l_linenumber, l_extendedprice,
       | CAST(COALESCE(sfb.sf, 1.0) AS REAL) AS id_sf
       |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
       |        l_extendedprice / 1000.0 AS pt,
       |        ABS(l_discount * 40.0 - 2.0) AS abseta
       |      FROM lineitem) li
       |LEFT JOIN ${bins2Sql(lepBins)}
       |  ON pt >= sfb.xlo AND pt < sfb.xhi AND abseta >= sfb.ylo AND abseta < sfb.yhi
       |ORDER BY 1, 2, 3""".stripMargin

  // ---- l03: piecewise-linear interpolation (L2, np.interp) ---------------
  // reference: stage1/corrections/nnlops.py:25-59 — interp over an (x,y)
  // graph with input clipped to the graph range.
  private val interpNodes: Seq[Node] =
    (0 to 10).map(i => Node(i * 50.0, 1.0 + math.sin(i * 0.7) / 10.0))
  private def l03(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val xMin = interpNodes.head.x; val xMax = interpNodes.last.x
    val xc = least(greatest(col("value"), lit(xMin)), lit(xMax))
    val segs = segmentsDF(s, interpNodes)
    ev.join(broadcast(segs),
        xc >= col("x0") && (xc < col("x1") || col("x1") === lit(xMax) && xc === lit(xMax)),
        "inner")
      .select(col("event_id"), interp(xc).cast("float").as("nnlops_wgt"))
      .orderBy(col("event_id"))
  }
  private val l03Sql = {
    val xMax = interpNodes.last.x
    val xc = s"LEAST(GREATEST(value, ${interpNodes.head.x}), $xMax)"
    s"""SELECT event_id,
       | CAST(seg.y0 + ($xc - seg.x0) * (seg.y1 - seg.y0) / (seg.x1 - seg.x0) AS REAL) AS nnlops_wgt
       |FROM events JOIN ${segmentsSql(interpNodes)}
       |  ON $xc >= seg.x0 AND ($xc < seg.x1 OR (seg.x1 = $xMax AND $xc = $xMax))
       |ORDER BY event_id""".stripMargin
  }

  // ---- l04: multi-level JEC chain with uncertainty variants (L4) ---------
  // reference: stage1/corrections/jec.py:6-181 — cascaded multiplicative
  // corrections keyed by (pt, eta); uncertainty sources emit _up/_down
  // columns of the same collection, NOT copies of the table.
  private val jecL1: Seq[Bin1D] = (0 until 10).map { i =>
    Bin1D(i * 11.0, (i + 1) * 11.0, 1.0 + (9 - i) / 50.0)
  }
  private val jecL2: Seq[Bin1D] = Seq(
    Bin1D(0.0, 1.3, 1.01), Bin1D(1.3, 2.5, 1.03), Bin1D(2.5, 5.0, 1.08))
  private val jecUnc: Seq[Bin1D] = Seq(
    Bin1D(0.0, 30.0, 0.05), Bin1D(30.0, 60.0, 0.02), Bin1D(60.0, 110.0, 0.01))
  private def l04(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val base = li.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
      (col("l_extendedprice") / lit(1000.0)).as("pt_raw"),
      abs(col("l_discount") * 94.0 - 4.7).as("abseta"))
    val j1 = base.join(broadcast(bins1DF(s, jecL1).withColumnRenamed("sf", "sf1")),
      col("pt_raw") >= col("lo") && col("pt_raw") < col("hi"), "left")
      .drop("lo", "hi")
    val j2 = j1.join(broadcast(bins1DF(s, jecL2).withColumnRenamed("sf", "sf2")),
      col("abseta") >= col("lo") && col("abseta") < col("hi"), "left")
      .drop("lo", "hi")
    val ptJec = col("pt_raw") * coalesce(col("sf1"), lit(1.0)) * coalesce(col("sf2"), lit(1.0))
    val j3 = j2.withColumn("pt_jec", ptJec)
      .join(broadcast(bins1DF(s, jecUnc).withColumnRenamed("sf", "unc")),
        col("pt_jec") >= col("lo") && col("pt_jec") < col("hi"), "left")
    j3.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("pt_jec").cast("float").as("pt_jec"),
        (col("pt_jec") * (lit(1.0) + coalesce(col("unc"), lit(0.0)))).cast("float").as("pt_jec_up"),
        (col("pt_jec") * (lit(1.0) - coalesce(col("unc"), lit(0.0)))).cast("float").as("pt_jec_down"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private val l04Sql =
    s"""WITH base AS (
       | SELECT l_orderkey, l_linenumber, l_extendedprice,
       |   l_extendedprice / 1000.0 AS pt_raw,
       |   ABS(l_discount * 94.0 - 4.7) AS abseta
       | FROM lineitem),
       |j AS (
       | SELECT b.*,
       |   b.pt_raw * COALESCE(s1.sf, 1.0) * COALESCE(s2.sf, 1.0) AS pt_jec
       | FROM base b
       | LEFT JOIN ${bins1Sql(jecL1).replace("sfb", "s1")}
       |   ON b.pt_raw >= s1.lo AND b.pt_raw < s1.hi
       | LEFT JOIN ${bins1Sql(jecL2).replace("sfb", "s2")}
       |   ON b.abseta >= s2.lo AND b.abseta < s2.hi)
       |SELECT l_orderkey, l_linenumber, l_extendedprice,
       | CAST(pt_jec AS REAL) AS pt_jec,
       | CAST(pt_jec * (1.0 + COALESCE(u.sf, 0.0)) AS REAL) AS pt_jec_up,
       | CAST(pt_jec * (1.0 - COALESCE(u.sf, 0.0)) AS REAL) AS pt_jec_down
       |FROM j LEFT JOIN ${bins1Sql(jecUnc).replace("sfb", "u")}
       |  ON pt_jec >= u.lo AND pt_jec < u.hi
       |ORDER BY 1, 2, 3""".stripMargin

  // ---- l10/l12 shared: the scanned JEC correction tables -----------------
  // reference: stage1/corrections/jec.py:6-181 — every correction level,
  // uncertainty bin and per-source magnitude is DATA (txt tables fed to
  // extractor factories), never code. The engine mirrors that: one tiny
  // CSV fixture (kind, source, lo, hi, val) scanned once per query and
  // broadcast; the DuckDB oracle reads the SAME file, so the magnitudes
  // cross the engine boundary as data, not as duplicated literals.
  private[queries] lazy val jecCsvPath: String = s"$fixturesRoot/jec_tables.csv"
  private def jecTables(s: SparkSession): DataFrame =
    s.read.schema("kind STRING, source STRING, lo DOUBLE, hi DOUBLE, val DOUBLE")
      .option("header", "true").csv(jecCsvPath)
  private lazy val jecCsvSql =
    s"""(SELECT * FROM read_csv('$jecCsvPath', header=true,
       |  columns={'kind':'VARCHAR','source':'VARCHAR','lo':'DOUBLE','hi':'DOUBLE','val':'DOUBLE'}))""".stripMargin
  private val jerNames: Seq[String] = (1 to 6).map(i => s"jer$i")

  // The 11 regrouped JES sources the reference considers
  // (config/jec_parameters.py jec_unc_to_consider["2018"]), in config
  // order; each is a 40 (eta bin) x 50 (pt knot) uncertainty table in
  // the real UncertaintySources file. The grid is uniform across
  // sources (checked by the parser), so the eta index, pt segment and
  // interp weight are computed ONCE and shared by all 22 variant
  // columns.
  private val jesSourceNames: Seq[String] = Seq(
    "Absolute", "Absolute2018", "BBEC1", "BBEC12018", "EC2", "EC22018",
    "HF", "HF2018", "RelativeBal", "RelativeSample2018", "FlavorQCD")
  private lazy val jesSources: Map[String, graft.lookup.JecTextTables.UncSource] =
    graft.lookup.JecTextTables.parseUncSources(
      refData("jec/Autumn18_V19_MC_UncertaintySources_AK4PFchs.junc.txt"))
  private lazy val jesEtaLos: Seq[Double] = jesSources("Absolute").etaLos
  private lazy val jesKnots: Seq[Double] = jesSources("Absolute").knots

  // ---- l10: JEC chain at reference variant breadth (L4, wide form) -------
  // reference: stage1/processor.py:447-463 + config/jec_parameters.py —
  // every jet carries 22 JES + 12 JER variant COLUMNS of the corrected
  // pt, not 34 copies of the table. The chain (two binned corrections)
  // runs ONCE; the 22 JES columns then come from the REAL regrouped
  // UncertaintySources table (the 11 sources of
  // jec_unc_to_consider["2018"], each a 40x50 (eta, pt-knot) grid from
  // data/jec/Autumn18_V19_MC_UncertaintySources_AK4PFchs.junc.txt,
  // piecewise-linear in pt inside the jet's eta bin with endpoint
  // clamps — l17's interp semantics per source). Because the file's
  // grid is uniform across sources, the eta index, pt segment and
  // interp weight are computed ONCE (count-of-lows index arithmetic
  // over literal arrays) and each source costs two element_at fetches
  // + one fused multiply-add — a pure projection, NO join and no
  // shuffle for the whole 22-column fan-out, the plan a 100 TB scan
  // wants. The 12 JER columns stay fixture-driven (the Autumn18_V7_MC
  // JER files are not in the reference checkout — documented boundary).
  // Oracle: the same grid from an INDEPENDENT Python parse
  // (tools/gen_jec_fixtures.py -> jes_sources_2018.csv with l17-style
  // sentinel clamp segments), 11 range joins, identical interp
  // spelling.
  private def l10(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val base = li.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
      (col("l_extendedprice") / lit(1000.0)).as("pt_raw"),
      abs(col("l_discount") * 94.0 - 4.7).as("abseta"),
      expr("CAST(l_partkey % 1040 AS DOUBLE) / 100.0 - 5.2").as("eta"))
    val j1 = base.join(broadcast(bins1DF(s, jecL1).withColumnRenamed("sf", "sf1")),
      col("pt_raw") >= col("lo") && col("pt_raw") < col("hi"), "left")
      .drop("lo", "hi")
    val j2 = j1.join(broadcast(bins1DF(s, jecL2).withColumnRenamed("sf", "sf2")),
      col("abseta") >= col("lo") && col("abseta") < col("hi"), "left")
      .drop("lo", "hi")
    val ptJec = col("pt_raw") * coalesce(col("sf1"), lit(1.0)) * coalesce(col("sf2"), lit(1.0))
    val j3 = j2.withColumn("pt_jec", ptJec)
      .join(broadcast(bins1DF(s, jecUnc).withColumnRenamed("sf", "unc")),
        col("pt_jec") >= col("lo") && col("pt_jec") < col("hi"), "left")
    // shared index arithmetic (1-based for element_at): eta bin, pt
    // segment [seg, seg+1] with the endpoint clamp folded into w
    val j4 = j3
      .withColumn("eta_i", lowerCount(col("eta"), jesEtaLos))
      .withColumn("seg",
        least(greatest(lowerCount(col("pt_jec"), jesKnots),
          lit(1)), lit(jesKnots.size - 1)))
      .withColumn("x0", element_at(typedLit(jesKnots), col("seg")))
      .withColumn("x1", element_at(typedLit(jesKnots), col("seg") + 1))
      .withColumn("w",
        least(greatest((col("pt_jec") - col("x0")) / (col("x1") - col("x0")),
          lit(0.0)), lit(1.0)))
    // source → magnitude as a 1-row broadcast map (the whitelisted
    // broadcast-1-row-aggregate shape): stays in-plan, no driver collect
    val mags = jecTables(s).filter(col("kind") === "jer")
      .agg(map_from_entries(collect_list(struct(col("source"), col("val"))))
        .as("jmag"))
    val j5 = j4.crossJoin(broadcast(mags))
    val unc = coalesce(col("unc"), lit(0.0))
    val jesCols = jesSourceNames.flatMap { n =>
      val grid = typedLit(jesSources(n).grid.map(_.toSeq))
      val u0 = element_at(element_at(grid, col("eta_i")), col("seg"))
      val u1 = element_at(element_at(grid, col("eta_i")), col("seg") + 1)
      val delta = u0 + (u1 - u0) * col("w")
      Seq(
        (col("pt_jec") * (lit(1.0) + delta)).cast("float").as(s"pt_${n}_up"),
        (col("pt_jec") * (lit(1.0) - delta)).cast("float").as(s"pt_${n}_down"))
    }
    val jerCols = jerNames.flatMap { n =>
      val delta = unc * element_at(col("jmag"), lit(n))
      Seq(
        (col("pt_jec") * (lit(1.0) + delta)).cast("float").as(s"pt_${n}_up"),
        (col("pt_jec") * (lit(1.0) - delta)).cast("float").as(s"pt_${n}_down"))
    }
    j5.select(Seq(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("pt_jec").cast("float").as("pt_jec")) ++ jesCols ++ jerCols: _*)
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private lazy val l10Sql = {
    val segsCsv = s"$fixturesRoot/jes_sources_2018.csv"
    val jesCols = jesSourceNames.flatMap { n =>
      val d = s"""(s_$n.u0 + (s_$n.u1 - s_$n.u0) *
         | LEAST(GREATEST((pt_jec - s_$n.x0) / (s_$n.x1 - s_$n.x0), 0.0), 1.0))""".stripMargin
      Seq(
        s"CAST(pt_jec * (1.0 + $d) AS REAL) AS pt_${n}_up",
        s"CAST(pt_jec * (1.0 - $d) AS REAL) AS pt_${n}_down")
    }
    val jesJoins = jesSourceNames.map { n =>
      s"""JOIN (SELECT * FROM segs WHERE source = '$n') s_$n
         |  ON j.eta >= s_$n.eta_lo AND j.eta < s_$n.eta_hi
         |  AND j.pt_jec >= s_$n.x0 AND j.pt_jec < s_$n.x1""".stripMargin
    }.mkString("\n")
    val jerCols = jerNames.flatMap { n =>
      val mag = s"(SELECT val FROM jec WHERE source = '$n')"
      Seq(
        s"CAST(pt_jec * (1.0 + COALESCE(u.sf, 0.0) * $mag) AS REAL) AS pt_${n}_up",
        s"CAST(pt_jec * (1.0 - COALESCE(u.sf, 0.0) * $mag) AS REAL) AS pt_${n}_down")
    }
    s"""WITH jec AS (SELECT * FROM $jecCsvSql WHERE kind = 'jer'),
       |segs AS (SELECT * FROM read_csv('$segsCsv', header=true, columns={
       |  'source':'VARCHAR','eta_lo':'DOUBLE','eta_hi':'DOUBLE',
       |  'x0':'DOUBLE','x1':'DOUBLE','u0':'DOUBLE','u1':'DOUBLE'})),
       |base AS (
       | SELECT l_orderkey, l_linenumber, l_extendedprice,
       |   l_extendedprice / 1000.0 AS pt_raw,
       |   ABS(l_discount * 94.0 - 4.7) AS abseta,
       |   CAST(l_partkey % 1040 AS DOUBLE) / 100.0 - 5.2 AS eta
       | FROM lineitem),
       |j AS (
       | SELECT b.*,
       |   b.pt_raw * COALESCE(s1.sf, 1.0) * COALESCE(s2.sf, 1.0) AS pt_jec
       | FROM base b
       | LEFT JOIN ${bins1Sql(jecL1).replace("sfb", "s1")}
       |   ON b.pt_raw >= s1.lo AND b.pt_raw < s1.hi
       | LEFT JOIN ${bins1Sql(jecL2).replace("sfb", "s2")}
       |   ON b.abseta >= s2.lo AND b.abseta < s2.hi)
       |SELECT l_orderkey, l_linenumber, l_extendedprice,
       | CAST(pt_jec AS REAL) AS pt_jec,
       | ${(jesCols ++ jerCols).mkString(",\n ")}
       |FROM j
       |$jesJoins
       |LEFT JOIN ${bins1Sql(jecUnc).replace("sfb", "u")}
       |  ON pt_jec >= u.lo AND pt_jec < u.hi
       |ORDER BY 1, 2, 3""".stripMargin
  }

  // ---- l12: fully table-driven JEC, per-source |eta|-binned (L4) ---------
  // reference: stage1/corrections/jec.py:6-181 — the UncertaintySources
  // txt table gives each JES source its own |eta|-binned magnitude; the
  // factory builds one lookup per source from the same file. Here the
  // WHOLE chain is data: L1/L2 corrections, the shared uncertainty and
  // the per-source kind='jes_eta' magnitudes all come from one scanned
  // CSV, each level a broadcast range join. Long form (one row per
  // jet × source) — the wide variant-column shape is l10's subject; what
  // l12 adds is that a new source or re-binned table changes NO code.
  // The jet side is thinned with a deterministic key filter (pushed to
  // the scan) to keep the oracle compare light.
  private def l12(s: SparkSession, dir: String): DataFrame = {
    val tabs = jecTables(s)
    def kindTab(k: String, valName: String): DataFrame =
      tabs.filter(col("kind") === k)
        .select(col("lo"), col("hi"), col("val").as(valName))
    val li = rd(s, dir, "lineitem").filter(col("l_orderkey") % 7 === 0)
    val base = li.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
      (col("l_extendedprice") / lit(1000.0)).as("pt_raw"),
      abs(col("l_discount") * 94.0 - 4.7).as("abseta"))
    val j1 = base.join(broadcast(kindTab("l1", "sf1")),
      col("pt_raw") >= col("lo") && col("pt_raw") < col("hi"), "left")
      .drop("lo", "hi")
    val j2 = j1.join(broadcast(kindTab("l2", "sf2")),
      col("abseta") >= col("lo") && col("abseta") < col("hi"), "left")
      .drop("lo", "hi")
    val ptJec = col("pt_raw") * coalesce(col("sf1"), lit(1.0)) * coalesce(col("sf2"), lit(1.0))
    val j3 = j2.withColumn("pt_jec", ptJec)
      .join(broadcast(kindTab("unc", "unc")),
        col("pt_jec") >= col("lo") && col("pt_jec") < col("hi"), "left")
      .drop("lo", "hi")
    val srcTab = tabs.filter(col("kind") === "jes_eta")
      .select(col("source"), col("lo"), col("hi"), col("val").as("mag"))
    val unc = coalesce(col("unc"), lit(0.0))
    j3.join(broadcast(srcTab),
        col("abseta") >= col("lo") && col("abseta") < col("hi"), "inner")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("source"),
        col("pt_jec").cast("float").as("pt_jec"),
        (col("pt_jec") * (lit(1.0) + unc * col("mag"))).cast("float").as("pt_up"),
        (col("pt_jec") * (lit(1.0) - unc * col("mag"))).cast("float").as("pt_down"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("source"))
  }
  private lazy val l12Sql =
    s"""WITH jec AS (SELECT * FROM $jecCsvSql),
       |base AS (
       | SELECT l_orderkey, l_linenumber, l_extendedprice,
       |   l_extendedprice / 1000.0 AS pt_raw,
       |   ABS(l_discount * 94.0 - 4.7) AS abseta
       | FROM lineitem WHERE l_orderkey % 7 = 0),
       |j AS (
       | SELECT b.*,
       |   b.pt_raw * COALESCE(s1.val, 1.0) * COALESCE(s2.val, 1.0) AS pt_jec
       | FROM base b
       | LEFT JOIN (SELECT * FROM jec WHERE kind = 'l1') s1
       |   ON b.pt_raw >= s1.lo AND b.pt_raw < s1.hi
       | LEFT JOIN (SELECT * FROM jec WHERE kind = 'l2') s2
       |   ON b.abseta >= s2.lo AND b.abseta < s2.hi)
       |SELECT j.l_orderkey, j.l_linenumber, j.l_extendedprice, e.source,
       | CAST(pt_jec AS REAL) AS pt_jec,
       | CAST(pt_jec * (1.0 + COALESCE(u.val, 0.0) * e.val) AS REAL) AS pt_up,
       | CAST(pt_jec * (1.0 - COALESCE(u.val, 0.0) * e.val) AS REAL) AS pt_down
       |FROM j
       |LEFT JOIN (SELECT * FROM jec WHERE kind = 'unc') u
       |  ON pt_jec >= u.lo AND pt_jec < u.hi
       |JOIN (SELECT * FROM jec WHERE kind = 'jes_eta') e
       |  ON j.abseta >= e.lo AND j.abseta < e.hi
       |ORDER BY 1, 2, 3, 4""".stripMargin

  // ---- l05: per-flavor piecewise polynomial SF (L5, btag-style) ----------
  // reference: stage1/corrections/btag_weights.py:4-61 — SF = poly(x)
  // selected by flavor class; Horner form, no lookup join needed.
  private def l05(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val x = col("l_discount") * 10.0
    val flavor = col("l_linenumber") % 3
    val sf = when(flavor === 0, lit(0.98) + x * (lit(0.01) + x * lit(-0.005)))
      .when(flavor === 1, lit(0.95) + x * (lit(0.03) + x * lit(-0.01)))
      .otherwise(lit(0.90) + x * (lit(0.08) + x * (lit(-0.02) + x * lit(0.001))))
    li.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        sf.cast("float").as("btag_sf"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private val l05Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      | CAST(CASE
      |  WHEN l_linenumber % 3 = 0 THEN 0.98 + (l_discount * 10.0) * (0.01 + (l_discount * 10.0) * -0.005)
      |  WHEN l_linenumber % 3 = 1 THEN 0.95 + (l_discount * 10.0) * (0.03 + (l_discount * 10.0) * -0.01)
      |  ELSE 0.90 + (l_discount * 10.0) * (0.08 + (l_discount * 10.0) * (-0.02 + (l_discount * 10.0) * 0.001))
      | END AS REAL) AS btag_sf
      |FROM lineitem ORDER BY 1, 2, 3""".stripMargin

  // ---- l06: mean-normalized per-flavor polynomial (L6, qgl-style) --------
  // reference: stage1/corrections/qgl_weights.py:21-64 + :11-13 — deg-3
  // Horner polynomial by parton flavor, then divide by the selected mean.
  private def l06(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val qgl = col("l_tax") * 12.5 // in [0, 1]
    val isGluon = col("l_partkey") % 2 === 0
    val wgt = when(isGluon,
        lit(1.16636) + qgl * (lit(-0.84802) + qgl * (lit(1.49409) + qgl * lit(-0.50628))))
      .otherwise(
        lit(-0.666978) + qgl * (lit(3.42169) + qgl * (lit(-2.06826) + qgl * lit(0.42211))))
    val base = li.select(col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"), wgt.as("qgl_wgt"))
    val mean = base.agg(avg(col("qgl_wgt")).as("mean_wgt"))
    base.crossJoin(broadcast(mean))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        (col("qgl_wgt") / col("mean_wgt")).cast("float").as("qgl_wgt_norm"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private val l06Sql =
    """WITH base AS (
      | SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  CASE WHEN l_partkey % 2 = 0
      |   THEN 1.16636 + (l_tax * 12.5) * (-0.84802 + (l_tax * 12.5) * (1.49409 + (l_tax * 12.5) * -0.50628))
      |   ELSE -0.666978 + (l_tax * 12.5) * (3.42169 + (l_tax * 12.5) * (-2.06826 + (l_tax * 12.5) * 0.42211))
      |  END AS qgl_wgt
      | FROM lineitem)
      |SELECT l_orderkey, l_linenumber, l_extendedprice,
      | CAST(qgl_wgt / (SELECT AVG(qgl_wgt) FROM base) AS REAL) AS qgl_wgt_norm
      |FROM base ORDER BY 1, 2, 3""".stripMargin

  // ---- l07: Rochester-style branched correction (L3) ---------------------
  // reference: stage1/corrections/rochester.py:5-64 — data rows get a
  // binned kScale; gen-matched MC rows get kSpread(pt_gen/pt); the rest
  // get kSmear with a random draw. The reference's unseeded np.random is
  // a reproducibility hazard (SURVEY §7.4); here the draw is a
  // deterministic multiplicative hash of the row key so both engines —
  // and any two cluster runs — agree bit-for-bit.
  private val kScaleBins: Seq[Bin1D] = Seq(
    Bin1D(0.0, 0.9, 1.0002), Bin1D(0.9, 1.7, 0.9995), Bin1D(1.7, 2.4, 1.0008))
  // Error variants per rochester.py:29-64: each branch carries its own
  // uncertainty (binned scale error for data, spread error for
  // gen-matched MC, smear error scaled by the draw); _up/_down shift the
  // correction by ±err and feed the weight system via WeightBuilder —
  // the three variant columns a15-style variation folds consume.
  private def l07(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val base = li.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
      (col("l_extendedprice") / lit(1000.0)).as("pt"),
      abs(col("l_discount") * 40.0 - 2.0).as("abseta"),
      (col("l_orderkey") % 5 === 0).as("is_data"),
      (col("l_linenumber") % 2 === 0).as("has_gen"),
      ((col("l_orderkey") * 2654435761L + col("l_linenumber") * 40503L) % 10000 / lit(10000.0)).as("u"))
    val joined = base.join(broadcast(bins1DF(s, kScaleBins)),
      col("abseta") >= col("lo") && col("abseta") < col("hi"), "left")
    val kScale = coalesce(col("sf"), lit(1.0))
    val kSpread = lit(1.0) + (col("pt") % 2.0 - 1.0) / 1000.0
    val kSmear = lit(1.0) + (col("u") - 0.5) / 500.0
    val roccor = when(col("is_data"), kScale)
      .when(col("has_gen"), kSpread)
      .otherwise(kSmear)
    val err = when(col("is_data"), abs(kScale - 1.0) / 2.0 + 0.0001)
      .when(col("has_gen"), abs(kSpread - 1.0) / 2.0)
      .otherwise(abs(kSmear - 1.0))
    val wb = graft.weights.WeightBuilder()
      .add("lumi", lit(1.0) + col("l_extendedprice") / 1.0e6)
      .add("roccor", roccor, roccor + err, roccor - err)
    val wgts = wb.named.toMap
    joined.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        roccor.cast("float").as("roccor"),
        (roccor + err).cast("float").as("roccor_up"),
        (roccor - err).cast("float").as("roccor_down"),
        wgts("wgt_nominal").cast("float").as("wgt_nominal"),
        wgts("wgt_roccor_up").cast("float").as("wgt_roccor_up"),
        wgts("wgt_roccor_down").cast("float").as("wgt_roccor_down"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }
  private val l07Sql = {
    val kScale = "COALESCE(sfb.sf, 1.0)"
    val kSpread = "(1.0 + ((l_extendedprice / 1000.0) % 2.0 - 1.0) / 1000.0)"
    val kSmear = "(1.0 + (((l_orderkey * 2654435761 + l_linenumber * 40503) % 10000) / 10000.0 - 0.5) / 500.0)"
    val roccor = s"""CASE
       |  WHEN l_orderkey % 5 = 0 THEN $kScale
       |  WHEN l_linenumber % 2 = 0 THEN $kSpread
       |  ELSE $kSmear END""".stripMargin
    val err = s"""CASE
       |  WHEN l_orderkey % 5 = 0 THEN ABS($kScale - 1.0) / 2.0 + 0.0001
       |  WHEN l_linenumber % 2 = 0 THEN ABS($kSpread - 1.0) / 2.0
       |  ELSE ABS($kSmear - 1.0) END""".stripMargin
    val lumi = "(1.0 + l_extendedprice / 1.0e6)"
    s"""SELECT l_orderkey, l_linenumber, l_extendedprice,
       | CAST(($roccor) AS REAL) AS roccor,
       | CAST(($roccor) + ($err) AS REAL) AS roccor_up,
       | CAST(($roccor) - ($err) AS REAL) AS roccor_down,
       | CAST($lumi * ($roccor) AS REAL) AS wgt_nominal,
       | CAST($lumi * (($roccor) + ($err)) AS REAL) AS wgt_roccor_up,
       | CAST($lumi * (($roccor) - ($err)) AS REAL) AS wgt_roccor_down
       |FROM lineitem LEFT JOIN ${bins1Sql(kScaleBins)}
       |  ON ABS(l_discount * 40.0 - 2.0) >= sfb.lo AND ABS(l_discount * 40.0 - 2.0) < sfb.hi
       |ORDER BY 1, 2, 3""".stripMargin
  }

  // ---- l08 / P15: 3-D binned resolution calibration ----------------------
  // reference: stage1/muons.py:74-89 — ebe mass resolution =
  // sqrt(dpt1^2 + dpt2^2) * calib(pt1, |eta1|, |eta2|) with a 3-D
  // histogram lookup. Same broadcast pattern, three range predicates.
  private val calib3d: Seq[(Double, Double, Double, Double, Double, Double, Double)] =
    for {
      (p, i) <- Seq((0.0, 150.0), (150.0, 300.0), (300.0, 500.0)).zipWithIndex
      (a, j) <- Seq((0.0, 0.9), (0.9, 1.7), (1.7, 2.4)).zipWithIndex
      (b, k) <- Seq((0.0, 0.9), (0.9, 1.7), (1.7, 2.4)).zipWithIndex
    } yield (p._1, p._2, a._1, a._2, b._1, b._2, 1.0 + (i * 9 + j * 3 + k) / 100.0)
  private def l08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = rd(s, dir, "events")
    val base = ev.select(col("event_id"),
      (col("value") + lit(1.0)).as("pt1"),
      abs((col("event_id") % 100) / lit(25.0) - lit(2.0)).as("abseta1"),
      abs((col("user_id") % 80) / lit(20.0) - lit(2.0)).as("abseta2"),
      ((col("event_id") % 7) / lit(10.0) + lit(0.5)).as("dpt1"),
      ((col("user_id") % 5) / lit(10.0) + lit(0.5)).as("dpt2"))
    val bins = broadcast(calib3d.toDF("plo", "phi_", "alo", "ahi", "blo", "bhi", "calib"))
    base.join(bins,
        col("pt1") >= col("plo") && col("pt1") < col("phi_") &&
        col("abseta1") >= col("alo") && col("abseta1") < col("ahi") &&
        col("abseta2") >= col("blo") && col("abseta2") < col("bhi"), "left")
      .select(col("event_id"),
        (sqrt(col("dpt1") * col("dpt1") + col("dpt2") * col("dpt2")) *
          coalesce(col("calib"), lit(1.0))).cast("float").as("ebe_mass_res"))
      .orderBy(col("event_id"))
  }
  private val l08Sql = {
    val values = calib3d.map { case (pl, ph, al, ah, bl, bh, c) =>
      s"($pl, $ph, $al, $ah, $bl, $bh, $c)"
    }.mkString(", ")
    s"""SELECT event_id,
       | CAST(SQRT(dpt1 * dpt1 + dpt2 * dpt2) * COALESCE(b.calib, 1.0) AS REAL) AS ebe_mass_res
       |FROM (SELECT event_id, value + 1.0 AS pt1,
       |        ABS((event_id % 100) / 25.0 - 2.0) AS abseta1,
       |        ABS((user_id % 80) / 20.0 - 2.0) AS abseta2,
       |        (event_id % 7) / 10.0 + 0.5 AS dpt1,
       |        (user_id % 5) / 10.0 + 0.5 AS dpt2
       |      FROM events) e
       |LEFT JOIN (VALUES $values) AS b(plo, phi_, alo, ahi, blo, bhi, calib)
       |  ON pt1 >= b.plo AND pt1 < b.phi_
       | AND abseta1 >= b.alo AND abseta1 < b.ahi
       | AND abseta2 >= b.blo AND abseta2 < b.bhi
       |ORDER BY event_id""".stripMargin
  }

  // ---- l09: width_bucket + EQUI-join lookup (L1, hash-join form) ---------
  // SURVEY §2.3: "width_bucket + equi-join on bucket id is the pure-SQL
  // form". Same bins/result as l01, but the join key is the computed
  // bucket INDEX, so Catalyst plans a broadcast HASH join — O(1) probe —
  // instead of the nested-loop range join; for lookup tables beyond a
  // few hundred rows this is the scale path.
  private def l09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = rd(s, dir, "events")
    val binsIdx = broadcast(puBins.zipWithIndex
      .map { case (b, i) => (i.toLong, b.value) }.toDF("bin_idx", "sf"))
    val idx = floor(col("value") / 25.0).cast("long")
    ev.withColumn("bin_idx", idx)
      .join(binsIdx, Seq("bin_idx"), "left")
      .select(col("event_id"),
        coalesce(col("sf"), lit(1.0)).cast("float").as("pu_wgt"))
      .orderBy(col("event_id"))
  }
  private val l09Sql = {
    val values = puBins.zipWithIndex
      .map { case (b, i) => s"($i, ${b.value})" }.mkString(", ")
    s"""SELECT event_id,
       | CAST(COALESCE(sfb.sf, 1.0) AS REAL) AS pu_wgt
       |FROM events LEFT JOIN (VALUES $values) AS sfb(bin_idx, sf)
       |  ON CAST(FLOOR(value / 25.0) AS BIGINT) = sfb.bin_idx
       |ORDER BY event_id""".stripMargin
  }

  // ---- l11: 2-D BILINEAR interpolation ------------------------------------
  // The smooth-surface companion to the binned 2-D lookup (l02): scale
  // factors defined on a coarse (x, y) grid, interpolated bilinearly —
  // the standard treatment for smooth correction maps (vs l02's
  // step-function bins). The 50-cell grid table broadcasts with its 4
  // corner values per cell; the join is the same clipped
  // point-in-rectangle equi-ish probe as l03, and the blend
  // (1−t)(1−u)z00 + t(1−u)z10 + (1−t)u·z01 + t·u·z11 is written with
  // identical parenthesization on both engines, float32 at the end.
  private val blxNodes = (0 to 10).map(_ * 50.0) // x: 0..500
  private val blyNodes = (0 to 5).map(_ * 2.0) // y: 0..10
  private def blz(i: Int, j: Int): Double =
    1.0 + math.sin(i * 0.9 + j * 1.7) / 20.0
  private def l11(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("event_id"), col("value").as("xr"),
        (col("event_id") % 97).cast("double").as("yr0"))
      .withColumn("yr", col("yr0") / 10.0)
    val cells = {
      import s.implicits._
      (for {
        i <- 0 until blxNodes.size - 1
        j <- 0 until blyNodes.size - 1
      } yield (blxNodes(i), blxNodes(i + 1), blyNodes(j), blyNodes(j + 1),
        blz(i, j), blz(i + 1, j), blz(i, j + 1), blz(i + 1, j + 1)))
        .toDF("x0", "x1", "y0", "y1", "z00", "z10", "z01", "z11")
    }
    val xMax = blxNodes.last; val yMax = blyNodes.last
    val xc = least(greatest(col("xr"), lit(0.0)), lit(xMax))
    val yc = least(greatest(col("yr"), lit(0.0)), lit(yMax))
    val t = (xc - col("x0")) / (col("x1") - col("x0"))
    val u = (yc - col("y0")) / (col("y1") - col("y0"))
    val z = (lit(1.0) - t) * (lit(1.0) - u) * col("z00") +
      t * (lit(1.0) - u) * col("z10") +
      (lit(1.0) - t) * u * col("z01") + t * u * col("z11")
    ev.join(broadcast(cells),
        xc >= col("x0") &&
          (xc < col("x1") || col("x1") === lit(xMax) && xc === lit(xMax)) &&
          yc >= col("y0") &&
          (yc < col("y1") || col("y1") === lit(yMax) && yc === lit(yMax)))
      .select(col("event_id"), z.cast("float").as("sf_bilinear"))
      .orderBy(col("event_id"))
  }
  private val l11Sql = {
    val cellRows = (for {
      i <- 0 until blxNodes.size - 1
      j <- 0 until blyNodes.size - 1
    } yield s"(${blxNodes(i)}, ${blxNodes(i + 1)}, ${blyNodes(j)}, " +
      s"${blyNodes(j + 1)}, ${blz(i, j)}, ${blz(i + 1, j)}, " +
      s"${blz(i, j + 1)}, ${blz(i + 1, j + 1)})").mkString(", ")
    val xMax = blxNodes.last; val yMax = blyNodes.last
    val xc = s"LEAST(GREATEST(xr, 0.0), $xMax)"
    val yc = s"LEAST(GREATEST(yr, 0.0), $yMax)"
    s"""WITH ev AS (
       | SELECT event_id, value AS xr,
       |  CAST(event_id % 97 AS DOUBLE) / 10.0 AS yr
       | FROM events),
       |cells(x0, x1, y0, y1, z00, z10, z01, z11) AS (VALUES $cellRows)
       |SELECT event_id,
       | CAST((1.0 - ($xc - x0) / (x1 - x0)) * (1.0 - ($yc - y0) / (y1 - y0)) * z00
       |  + (($xc - x0) / (x1 - x0)) * (1.0 - ($yc - y0) / (y1 - y0)) * z10
       |  + (1.0 - ($xc - x0) / (x1 - x0)) * (($yc - y0) / (y1 - y0)) * z01
       |  + (($xc - x0) / (x1 - x0)) * (($yc - y0) / (y1 - y0)) * z11 AS REAL)
       |  AS sf_bilinear
       |FROM ev JOIN cells
       |  ON $xc >= x0 AND ($xc < x1 OR (x1 = $xMax AND $xc = $xMax))
       | AND $yc >= y0 AND ($yc < y1 OR (y1 = $yMax AND $yc = $yMax))
       |ORDER BY event_id""".stripMargin
  }

  // ---- l13: natural cubic spline lookup, DATA-derived knots ---------------
  // l03 interpolates a literal node table linearly; the production form
  // of a correction curve is a SPLINE FIT TO DATA (the shape of the
  // reference's smoothed corrections): bin the corpus (10 knots), solve
  // the natural-spline tridiagonal system (Thomas algorithm) for the
  // knot second-derivatives M_i, evaluate the piecewise cubic on every
  // row. Scale split: the knot table is O(10) AT ANY CORPUS SIZE (one
  // map-side-combined aggregation), the solve is O(knots) driver work
  // (a14 convention), and the evaluation is one codegen'd CASE over
  // broadcast-literal coefficients — the corpus is touched exactly
  // twice (knot build + evaluate). Determinism chain: knot y are exact
  // integer-sum ratios; the driver's Thomas recurrence and the oracle's
  // lateral-alias CTE replay spell the IDENTICAL double ops in the
  // IDENTICAL order; literals round-trip via Double.toString (shortest
  // round-trip repr, parsed correctly-rounded by both engines); the
  // evaluation polynomial is one shared template; float32 output.
  private val splN = 10 // knots; x_i = 25 + 50 i on value in [0, 500)
  private def splX(i: Int): Double = 25.0 + 50.0 * i
  /** Piecewise cubic on [x_i, x_{i+1}] — ONE template for both engines
    * (m/y substituted with driver literals or CTE column refs). */
  private def splEval(xc: String, i: Int, m: Int => String, y: Int => String): String = {
    val x0 = splX(i); val x1 = splX(i + 1)
    s"((${m(i)} * ($x1 - $xc) * ($x1 - $xc) * ($x1 - $xc) + " +
      s"${m(i + 1)} * ($xc - $x0) * ($xc - $x0) * ($xc - $x0)) / 300.0 + " +
      s"(${y(i)} / 50.0 - ${m(i)} * 50.0 / 6.0) * ($x1 - $xc) + " +
      s"(${y(i + 1)} / 50.0 - ${m(i + 1)} * 50.0 / 6.0) * ($xc - $x0))"
  }
  private def splCase(xc: String, m: Int => String, y: Int => String): String = {
    val branches = (0 until splN - 2).map(i =>
      s"WHEN $xc < ${splX(i + 1)} THEN ${splEval(xc, i, m, y)}").mkString(" ")
    s"(CASE $branches ELSE ${splEval(xc, splN - 2, m, y)} END)"
  }
  private def l13(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val rows = ev.filter(col("value") >= 0.0 && col("value") < 500.0)
      .groupBy(floor(col("value") / 50.0).cast("long").as("bin"))
      .agg(sum(col("user_id")).as("sy"), count(lit(1)).as("cnt"))
      .collect()
    val ys = Array.fill(splN)(0.0)
    rows.foreach { r =>
      val b = r.getLong(0).toInt
      if (b >= 0 && b < splN) ys(b) = r.getLong(1).toDouble / r.getLong(2)
    }
    // Thomas solve for natural-spline M (mirrored op-for-op in l13Sql):
    // h = 50 everywhere, diagonal 2(h+h) = 200, off-diagonals 50
    val d = Array.fill(splN)(0.0)
    for (i <- 1 to splN - 2)
      d(i) = 6.0 * ((ys(i + 1) - ys(i)) / 50.0 - (ys(i) - ys(i - 1)) / 50.0)
    val cp = Array.fill(splN)(0.0); val dp = Array.fill(splN)(0.0)
    cp(1) = 50.0 / 200.0; dp(1) = d(1) / 200.0
    for (i <- 2 to splN - 2) {
      val den = 200.0 - 50.0 * cp(i - 1)
      cp(i) = 50.0 / den
      dp(i) = (d(i) - 50.0 * dp(i - 1)) / den
    }
    val ms = Array.fill(splN)(0.0)
    ms(splN - 2) = dp(splN - 2)
    for (i <- splN - 3 to 1 by -1) ms(i) = dp(i) - cp(i) * ms(i + 1)
    val xc = s"LEAST(GREATEST(value, ${splX(0)}), ${splX(splN - 1)})"
    ev.select(col("event_id"),
        expr(s"CAST(${splCase(xc, i => ms(i).toString, i => ys(i).toString)} AS FLOAT)")
          .as("spline_corr"))
      .orderBy(col("event_id"))
  }
  private val l13Sql = {
    val interior = 1 to splN - 2
    // forward sweep + back substitution as LATERAL column aliases (one
    // 1-row CTE), each term spelled exactly as the driver loop
    val dCols = interior.map(i =>
      s"6.0 * ((y${i + 1} - y$i) / 50.0 - (y$i - y${i - 1}) / 50.0) AS d$i").mkString(",\n |  ")
    val fwd = (s"50.0 / 200.0 AS cp1, d1 / 200.0 AS dp1" +:
      (2 to splN - 2).map(i =>
        s"50.0 / (200.0 - 50.0 * cp${i - 1}) AS cp$i, " +
          s"(d$i - 50.0 * dp${i - 1}) / (200.0 - 50.0 * cp${i - 1}) AS dp$i")).mkString(",\n |  ")
    val back = (s"dp${splN - 2} AS m${splN - 2}" +:
      (splN - 3 to 1 by -1).map(i => s"dp$i - cp$i * m${i + 1} AS m$i"))
      .mkString(",\n |  ")
    val yCols = (0 until splN).map(i =>
      s"COALESCE(MAX(CASE WHEN bin = $i THEN sy / cnt END), 0.0) AS y$i").mkString(",\n |  ")
    val xc = s"LEAST(GREATEST(value, ${splX(0)}), ${splX(splN - 1)})"
    val mRef = (i: Int) => if (i == 0 || i == splN - 1) "0.0" else s"m$i"
    s"""WITH knots AS (
       | SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bin,
       |  CAST(SUM(user_id) AS DOUBLE) AS sy, COUNT(*) AS cnt
       | FROM events WHERE value >= 0.0 AND value < 500.0 GROUP BY 1),
       |ky AS (
       | SELECT
       |  $yCols
       | FROM knots),
       |ms AS (
       | SELECT *,
       |  $dCols,
       |  $fwd,
       |  $back
       | FROM ky)
       |SELECT event_id,
       | CAST(${splCase(xc, mRef, i => s"y$i")} AS REAL) AS spline_corr
       |FROM events CROSS JOIN ms
       |ORDER BY event_id""".stripMargin
  }

  // ---- l14: 2-D scale-factor lookup fed DIRECTLY from a ROOT file ----------
  // The reference's muon-ID efficiency correction end-to-end
  // (reference: the stage1 correction loaders consume exactly
  // data/muon_sf/year2018/RunABCD_SF_ID.root): the TH2D SF map is read
  // through the native ROOT DataSource V2 connector (sources/
  // RootHistSource.scala), its 24 interior (pt × |eta|) cells broadcast,
  // and each pseudo-muon picks its cell by range predicates — the L1
  // binned-lookup shape with a 24-row broadcast build side, so the probe
  // is a map-side nested-loop over a tiny table at any corpus size. The
  // DuckDB oracle replays the map as a LITERAL VALUES table produced by
  // an independent from-scratch parser of the same binary file, so a
  // green hash validates reader + join semantics together. Per-cell
  // yield is n · sf (sf constant within a cell — no order-dependent
  // float summation anywhere).
  private def l14(s: SparkSession, dir: String): DataFrame = {
    val sfMap = s.read.format("graft.sources.RootHistSource")
      .option("path",
        refData("muon_sf/year2018/RunABCD_SF_ID.root")).load()
      .filter(col("hist") === "NUM_TightID_DEN_genTracks_pt_abseta" &&
        col("binx").between(1, 6) && col("biny").between(1, 4))
      .select(col("x_low"), col("x_high"), col("y_low"), col("y_high"),
        col("content").as("sf"))
    val mu = rd(s, dir, "lineitem")
      .select((col("l_extendedprice") / 1000.0).as("pt"),
        (col("l_discount") * 24.0).as("abseta"))
      .filter(col("pt") >= 20.0 && col("pt") < 120.0 && col("abseta") < 2.4)
    mu.join(broadcast(sfMap),
        col("pt") >= col("x_low") && col("pt") < col("x_high") &&
          col("abseta") >= col("y_low") && col("abseta") < col("y_high"))
      .groupBy(col("x_low"), col("y_low"))
      .agg(count(lit(1)).as("n_mu"), max(col("sf")).as("sf_d"))
      .select(col("x_low"), col("y_low"), col("n_mu"),
        col("sf_d").cast("float").as("sf"),
        (col("n_mu").cast("double") * col("sf_d")).cast("float")
          .as("expected_yield"))
      .orderBy(col("x_low"), col("y_low"))
  }
  private val l14Sql =
    """WITH sfmap(x_low, x_high, y_low, y_high, sf) AS (VALUES
      |(20.0, 25.0, 0.0, 0.9, 0.9809958066072726), (25.0, 30.0, 0.0, 0.9, 0.9907079683443358),
      |(30.0, 40.0, 0.0, 0.9, 0.9940930519333433), (40.0, 50.0, 0.0, 0.9, 0.9924862189236762),
      |(50.0, 60.0, 0.0, 0.9, 0.9911617044225287), (60.0, 120.0, 0.0, 0.9, 0.9940931417433392),
      |(20.0, 25.0, 0.9, 1.2, 0.9927448660377257), (25.0, 30.0, 0.9, 1.2, 0.9817290215523836),
      |(30.0, 40.0, 0.9, 1.2, 0.98761982168), (40.0, 50.0, 0.9, 1.2, 0.9852413448471883),
      |(50.0, 60.0, 0.9, 1.2, 0.9814141639875774), (60.0, 120.0, 0.9, 1.2, 0.9845977669390539),
      |(20.0, 25.0, 1.2, 2.1, 1.0001274426420794), (25.0, 30.0, 1.2, 2.1, 0.9904054835527193),
      |(30.0, 40.0, 1.2, 2.1, 0.9907256636939671), (40.0, 50.0, 1.2, 2.1, 0.991264560433235),
      |(50.0, 60.0, 1.2, 2.1, 0.9894760750958966), (60.0, 120.0, 1.2, 2.1, 0.9891039904226423),
      |(20.0, 25.0, 2.1, 2.4, 0.9905134702464216), (25.0, 30.0, 2.1, 2.4, 0.9730892211605638),
      |(30.0, 40.0, 2.1, 2.4, 0.9769037952277815), (40.0, 50.0, 2.1, 2.4, 0.9759341667700446),
      |(50.0, 60.0, 2.1, 2.4, 0.9703150553676495), (60.0, 120.0, 2.1, 2.4, 0.9741669907616599)),
      |mu AS (
      | SELECT l_extendedprice / 1000.0 AS pt, l_discount * 24.0 AS abseta
      | FROM lineitem
      | WHERE l_extendedprice / 1000.0 >= 20.0 AND l_extendedprice / 1000.0 < 120.0
      |   AND l_discount * 24.0 < 2.4)
      |SELECT CAST(x_low AS DOUBLE) AS x_low, CAST(y_low AS DOUBLE) AS y_low,
      | COUNT(*) AS n_mu,
      | CAST(CAST(MAX(sf) AS DOUBLE) AS REAL) AS sf,
      | CAST(CAST(COUNT(*) AS DOUBLE) * CAST(MAX(sf) AS DOUBLE) AS REAL) AS expected_yield
      |FROM mu JOIN sfmap
      | ON pt >= x_low AND pt < x_high AND abseta >= y_low AND abseta < y_high
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- l15: TGraph linear interpolation lookup from a ROOT file ------------
  // The reference's NNLOPS reweighting (reference: the stage1 NNLOPS
  // corrector interpolates data/NNLOPS_reweight.root's ratio-vs-pt
  // TGraphErrors with np.interp semantics: linear between points,
  // clamped to the endpoint values outside the domain). Engine side:
  // the 17-point curve arrives through the TGraph DataSource V2
  // connector, points become SEGMENTS via an i→i+1 self-join (17×17
  // equi-join — no global-order window, keeping the suite's
  // no-SinglePartition invariant), two clamp segments extend the ends
  // (y1 = y0, so the slope term is exactly 0 — no divide hazard), and
  // each event picks its segment from the broadcast 18-row table. The
  // DuckDB oracle rebuilds the identical segments from a literal copy
  // of the points produced by the independent parser. Per-row weights
  // are micro-quantized before summing (order-free integer sums).
  private val l15W =
    "(y0 + (y1 - y0) * (pt - x0) / (x1 - x0))"
  private def l15(s: SparkSession, dir: String): DataFrame = {
    val pts = s.read.format("graft.sources.RootGraphSource")
      .option("path", refData("NNLOPS_reweight.root")).load()
      .filter(col("graph") === "gr_NNLOPSratio_pt_powheg_0jet")
      .select(col("i"), col("x"), col("y"))
      .localCheckpoint() // 17 rows; feeds segments + both clamps
    val interior = pts.as("a").join(pts.as("b"),
        col("a.i") + 1 === col("b.i"))
      .select(col("a.x").as("x0"), col("b.x").as("x1"),
        col("a.y").as("y0"), col("b.y").as("y1"))
    val maxI = pts.agg(max(col("i")).as("mi"))
    val lo = pts.filter(col("i") === 0)
      .select(lit(-1e18).as("x0"), col("x").as("x1"),
        col("y").as("y0"), col("y").as("y1"))
    val hi = pts.crossJoin(broadcast(maxI)).filter(col("i") === col("mi"))
      .select(col("x").as("x0"), lit(1e18).as("x1"),
        col("y").as("y0"), col("y").as("y1"))
    val segs = interior.unionByName(lo).unionByName(hi)
    val mu = rd(s, dir, "lineitem")
      .select((col("l_extendedprice") / 1000.0).as("pt"))
    mu.join(broadcast(segs),
        col("pt") >= col("x0") && col("pt") < col("x1"))
      .select(col("x0"),
        expr(s"CAST(FLOOR($l15W * 1000000.0 + 0.5) AS BIGINT)").as("wq"))
      .groupBy(col("x0"))
      .agg(count(lit(1)).as("n_ev"), sum(col("wq")).as("w_micro_sum"))
      .select(col("x0"), col("n_ev"), col("w_micro_sum"),
        (col("w_micro_sum").cast("double") / col("n_ev") / 1000000.0)
          .cast("float").as("avg_weight"))
      .orderBy(col("x0"))
  }
  private val l15Sql =
    s"""WITH pts(i, x, y) AS (VALUES
       |(0, 2.5, 1.1658884286880493), (1, 7.5, 1.006809949874878),
       |(2, 12.5, 0.9281306862831116), (3, 17.5, 0.9306548237800598),
       |(4, 22.5, 0.8971056342124939), (5, 27.5, 0.9189392924308777),
       |(6, 32.5, 0.9419706463813782), (7, 37.5, 0.9572471976280212),
       |(8, 42.5, 0.9615933895111084), (9, 47.5, 1.0141770839691162),
       |(10, 55.0, 0.9375), (11, 65.0, 1.047379732131958),
       |(12, 75.0, 1.1114500761032104), (13, 85.0, 1.1284558773040771),
       |(14, 95.0, 0.6185693144798279), (15, 110.0, 1.2326494455337524),
       |(16, 125.0, 4.512904167175293)),
       |ptsd AS (SELECT i, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y FROM pts),
       |segs AS (
       | SELECT a.x AS x0, b.x AS x1, a.y AS y0, b.y AS y1
       | FROM ptsd a JOIN ptsd b ON a.i + 1 = b.i
       | UNION ALL
       | SELECT CAST(-1e18 AS DOUBLE), x, y, y FROM ptsd WHERE i = 0
       | UNION ALL
       | SELECT x, CAST(1e18 AS DOUBLE), y, y FROM ptsd
       | WHERE i = (SELECT MAX(i) FROM ptsd)),
       |mu AS (SELECT l_extendedprice / 1000.0 AS pt FROM lineitem),
       |wq AS (
       | SELECT x0, CAST(FLOOR($l15W * 1000000.0 + 0.5) AS BIGINT) AS wq
       | FROM mu JOIN segs ON pt >= x0 AND pt < x1)
       |SELECT x0, COUNT(*) AS n_ev, CAST(SUM(wq) AS BIGINT) AS w_micro_sum,
       | CAST(CAST(SUM(wq) AS DOUBLE) / COUNT(*) / 1000000.0 AS REAL) AS avg_weight
       |FROM wq GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- l16: Z-pt reweighting from the reference's JSON calibration ----------
  // The reference's zpt reweight input is a JSON histogram
  // (data/zpt_weights.histo.json, applied in
  // stage1/corrections/zpt_weight.py): per-year pt-binned weights keyed
  // by "pt:[lo,hi]" labels. The file is a tiny driver-side config
  // (12 bins/year) — parsed once with Jackson (already on Spark's
  // classpath), entering the plan as a broadcast range table, the same
  // shape as every other l-family lookup: scan-side rows range-join a
  // broadcast bin map, weights milli-quantize, sums are order-free.
  // Oracle = the independently-read literal map + a full SQL replay of
  // the join/aggregation (the l14 discipline).
  private def zptBins(year: String): Seq[(Double, Double, Double)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(new java.io.File(refData("zpt_weights.histo.json")))
    val m = root.get("zpt_weights").get(year)
    require(m != null, s"zpt_weights has no year $year")
    val out = Seq.newBuilder[(Double, Double, Double)]
    m.fieldNames().forEachRemaining { k =>
      val Array(lo, hi) = k.stripPrefix("pt:[").stripSuffix("]").split(',')
      out += ((lo.toDouble, hi.toDouble, m.get(k).get("value").asDouble()))
    }
    out.result().sortBy(_._1)
  }
  private def l16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bins = zptBins("2017").toDF("pt_low", "pt_high", "zw")
    val mu = rd(s, dir, "lineitem")
      .select((col("l_extendedprice") / 100.0).as("pt"))
      .filter(col("pt") < 1000.0)
    mu.join(broadcast(bins),
        col("pt") >= col("pt_low") && col("pt") < col("pt_high"))
      .select(col("pt_low"), col("zw"),
        expr("CAST(FLOOR(zw * 1000000.0 + 0.5) AS BIGINT)").as("wq"))
      .groupBy(col("pt_low"))
      .agg(count(lit(1)).as("n_ev"),
        max(col("zw")).cast("float").as("zpt_weight"),
        sum(col("wq")).as("w_micro_sum"))
      .orderBy(col("pt_low"))
  }
  private val l16Sql =
    """WITH bins(pt_low, pt_high, zw) AS (VALUES
      |(0.0, 10.0, 0.910385), (10.0, 20.0, 1.13543),
      |(20.0, 30.0, 1.10441), (30.0, 40.0, 1.01315),
      |(40.0, 50.0, 0.982598), (50.0, 60.0, 0.980697),
      |(60.0, 70.0, 0.972673), (70.0, 80.0, 0.972325),
      |(80.0, 100.0, 0.966127), (100.0, 150.0, 0.953262),
      |(150.0, 200.0, 0.933403), (200.0, 1000.0, 0.904518)),
      |mu AS (
      | SELECT l_extendedprice / 100.0 AS pt FROM lineitem
      | WHERE l_extendedprice / 100.0 < 1000.0)
      |SELECT CAST(pt_low AS DOUBLE) AS pt_low, COUNT(*) AS n_ev,
      | CAST(MAX(zw) AS REAL) AS zpt_weight,
      | CAST(SUM(CAST(FLOOR(zw * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
      |  AS w_micro_sum
      |FROM mu JOIN bins ON pt >= pt_low AND pt < pt_high
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- l17: JEC uncertainty from the reference's real .junc.txt table -------
  // The reference's JEC uncertainty source is the CMS-distributed text
  // table (data/jec/Autumn18_RunA_V19_DATA_Uncertainty_AK4PFchs.junc.txt,
  // wired in config/jec_parameters.py and applied by
  // stage1/corrections/jec.py): per eta bin, 50 pt knots each carrying
  // (pt, unc_up, unc_down) — evaluated as piecewise-linear
  // interpolation over pt inside the jet's eta bin. Parsed driver-side
  // (whitespace text, 40 eta bins -> 2040 interp segments incl. the
  // endpoint-clamp rows, l15's pattern with u0 == u1 so the clamp is
  // exact), broadcast, and range-joined by (eta bin, pt segment). The
  // oracle carries the table as literals produced by an INDEPENDENT
  // Python parse, CAST once to DOUBLE (short decimal literals would
  // infer DECIMAL and change the subtraction arithmetic), and replays
  // the identical interp spelling. Per-jet uncertainties nano-quantize
  // before the per-eta-bin fold.
  /** (etaLos, ptKnots, up[etaBin][knot], dn[etaBin][knot]) — the file's
    * grid is uniform (same 50 pt knots in every eta bin; checked), so
    * the lookup runs as index arithmetic over literal arrays instead of
    * a 2040-segment nested-loop range join (round-9 perf pass: the NLJ
    * form cost 6.5 s at the sf0.1 bench — l10's pure-projection design
    * brings it to the scan-bound cost; the interp arithmetic and the
    * oracle are unchanged, endpoint clamps fold into the weight). */
  private lazy val juncUnc: (Vector[Double], Vector[Double],
      Vector[Vector[Double]], Vector[Vector[Double]]) = {
    val lines = scala.io.Source.fromFile(refData(
      "jec/Autumn18_RunA_V19_DATA_Uncertainty_AK4PFchs.junc.txt")).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("{")).toVector
    var knots: Vector[Double] = null
    val (los, ups, dns) = lines.map { l =>
      val t = l.split("\\s+")
      val n = t(2).toInt
      val v = Vector.tabulate(n)(i => t(3 + i).toDouble)
      val ks = Vector.tabulate(n / 3)(i => v(i * 3))
      if (knots == null) knots = ks
      else require(ks == knots, s"non-uniform pt knots at eta ${t(0)}")
      (t(0).toDouble,
        Vector.tabulate(n / 3)(i => v(i * 3 + 1)),
        Vector.tabulate(n / 3)(i => v(i * 3 + 2)))
    }.unzip3
    (los, knots, ups, dns)
  }
  // oracle interp spelling (the engine's dxc form matches this order
  // exactly — see the clamped-numerator note below)
  private val l17Up = "(u0 + (u1 - u0) * (pt - x0) / (x1 - x0))"
  private val l17Dn = "(d0 + (d1 - d0) * (pt - x0) / (x1 - x0))"
  private def l17(s: SparkSession, dir: String): DataFrame = {
    val (etaLos, knots, ups, dns) = juncUnc
    val jets = rd(s, dir, "lineitem")
      .select((col("l_extendedprice") / 1000.0).as("pt"),
        (col("l_discount") * 104.0 - 5.2).as("eta"))
      .withColumn("ei", lowerCount(col("eta"), etaLos))
      .withColumn("seg",
        least(greatest(lowerCount(col("pt"), knots),
          lit(1)), lit(knots.size - 1)))
      .withColumn("x0", element_at(typedLit(knots), col("seg")))
      .withColumn("x1", element_at(typedLit(knots), col("seg") + 1))
      // clamped NUMERATOR, oracle's association order: the oracle
      // spells u0 + (u1 - u0) * (pt - x0) / (x1 - x0) — multiplying by
      // a pre-divided weight would change IEEE rounding; clamping
      // (pt - x0) to [0, x1 - x0] is an exact no-op in range and yields
      // exactly u0 below the first knot (where the oracle's sentinel
      // row has u0 == u1, also exact)
      .withColumn("dxc",
        least(greatest(col("pt") - col("x0"), lit(0.0)),
          col("x1") - col("x0")))
    def interp(grid: Vector[Vector[Double]]) = {
      val g = typedLit(grid.map(_.toSeq))
      val g0 = element_at(element_at(g, col("ei")), col("seg"))
      val g1 = element_at(element_at(g, col("ei")), col("seg") + 1)
      g0 + (g1 - g0) * col("dxc") / (col("x1") - col("x0"))
    }
    jets
      .select(element_at(typedLit(etaLos), col("ei")).as("eta_lo"),
        floor(interp(ups) * lit(1e9) + lit(0.5)).cast("long").as("uq"),
        floor(interp(dns) * lit(1e9) + lit(0.5)).cast("long").as("dq"))
      .groupBy(col("eta_lo"))
      .agg(count(lit(1)).as("n_jets"),
        sum(col("uq")).as("up_nano_sum"), sum(col("dq")).as("dn_nano_sum"))
      .orderBy(col("eta_lo"))
  }
  /** The .junc.txt table as literals from an INDEPENDENT Python parse
    * (tools-side), chunked to stay under the JVM's 64 KB string-constant
    * limit. */
  private val juncValuesLiteral: String = Seq(
    """(-5.4,-5.0,-1e+18,9.0,0.1127,0.1127,0.1127,0.1127),
(-5.4,-5.0,9.0,11.0,0.1127,0.1016,0.1127,0.1016),
(-5.4,-5.0,11.0,13.5,0.1016,0.0926,0.1016,0.0926),
(-5.4,-5.0,13.5,16.5,0.0926,0.0862,0.0926,0.0862),
(-5.4,-5.0,16.5,19.5,0.0862,0.0823,0.0862,0.0823),
(-5.4,-5.0,19.5,22.5,0.0823,0.0798,0.0823,0.0798),
(-5.4,-5.0,22.5,26.0,0.0798,0.0777,0.0798,0.0777),
(-5.4,-5.0,26.0,30.0,0.0777,0.0756,0.0777,0.0756),
(-5.4,-5.0,30.0,34.5,0.0756,0.0728,0.0756,0.0728),
(-5.4,-5.0,34.5,40.0,0.0728,0.0698,0.0728,0.0698),
(-5.4,-5.0,40.0,46.0,0.0698,0.0674,0.0698,0.0674),
(-5.4,-5.0,46.0,52.5,0.0674,0.0655,0.0674,0.0655),
(-5.4,-5.0,52.5,60.0,0.0655,0.0639,0.0655,0.0639),
(-5.4,-5.0,60.0,69.0,0.0639,0.0627,0.0639,0.0627),
(-5.4,-5.0,69.0,79.0,0.0627,0.0619,0.0627,0.0619),
(-5.4,-5.0,79.0,90.5,0.0619,0.0614,0.0619,0.0614),
(-5.4,-5.0,90.5,105.5,0.0614,0.0612,0.0614,0.0612),
(-5.4,-5.0,105.5,123.5,0.0612,0.0615,0.0612,0.0615),
(-5.4,-5.0,123.5,143.0,0.0615,0.0622,0.0615,0.0622),
(-5.4,-5.0,143.0,163.5,0.0622,0.0632,0.0622,0.0632),
(-5.4,-5.0,163.5,185.0,0.0632,0.0644,0.0632,0.0644),
(-5.4,-5.0,185.0,208.0,0.0644,0.0656,0.0644,0.0656),
(-5.4,-5.0,208.0,232.5,0.0656,0.0667,0.0656,0.0667),
(-5.4,-5.0,232.5,258.5,0.0667,0.0674,0.0667,0.0674),
(-5.4,-5.0,258.5,286.0,0.0674,0.0681,0.0674,0.0681),
(-5.4,-5.0,286.0,331.0,0.0681,0.0693,0.0681,0.0693),
(-5.4,-5.0,331.0,396.0,0.0693,0.0707,0.0693,0.0707),
(-5.4,-5.0,396.0,468.5,0.0707,0.0721,0.0707,0.0721),
(-5.4,-5.0,468.5,549.5,0.0721,0.0735,0.0721,0.0735),
(-5.4,-5.0,549.5,639.0,0.0735,0.0747,0.0735,0.0747),
(-5.4,-5.0,639.0,738.0,0.0747,0.076,0.0747,0.076),
(-5.4,-5.0,738.0,847.5,0.076,0.0772,0.076,0.0772),
(-5.4,-5.0,847.5,968.5,0.0772,0.0784,0.0772,0.0784),
(-5.4,-5.0,968.5,1102.0,0.0784,0.0795,0.0784,0.0795),
(-5.4,-5.0,1102.0,1249.5,0.0795,0.0806,0.0795,0.0806),
(-5.4,-5.0,1249.5,1412.0,0.0806,0.0817,0.0806,0.0817),
(-5.4,-5.0,1412.0,1590.5,0.0817,0.0827,0.0817,0.0827),
(-5.4,-5.0,1590.5,1787.0,0.0827,0.0837,0.0827,0.0837),
(-5.4,-5.0,1787.0,2003.0,0.0837,0.0847,0.0837,0.0847),
(-5.4,-5.0,2003.0,2241.0,0.0847,0.0857,0.0847,0.0857),
(-5.4,-5.0,2241.0,2503.0,0.0857,0.0866,0.0857,0.0866),
(-5.4,-5.0,2503.0,2790.5,0.0866,0.0876,0.0866,0.0876),
(-5.4,-5.0,2790.5,3107.0,0.0876,0.0885,0.0876,0.0885),
(-5.4,-5.0,3107.0,3455.0,0.0885,0.0895,0.0885,0.0895),
(-5.4,-5.0,3455.0,3837.0,0.0895,0.0905,0.0895,0.0905),
(-5.4,-5.0,3837.0,4257.0,0.0905,0.0916,0.0905,0.0916),
(-5.4,-5.0,4257.0,4719.0,0.0916,0.0927,0.0916,0.0927),
(-5.4,-5.0,4719.0,5226.5,0.0927,0.0937,0.0927,0.0937),
(-5.4,-5.0,5226.5,5784.0,0.0937,0.0947,0.0937,0.0947),
(-5.4,-5.0,5784.0,6538.0,0.0947,0.0959,0.0947,0.0959),
(-5.4,-5.0,6538.0,1e+18,0.0959,0.0959,0.0959,0.0959),
(-5.0,-4.4,-1e+18,9.0,0.1052,0.1052,0.1052,0.1052),
(-5.0,-4.4,9.0,11.0,0.1052,0.0964,0.1052,0.0964),
(-5.0,-4.4,11.0,13.5,0.0964,0.0891,0.0964,0.0891),
(-5.0,-4.4,13.5,16.5,0.0891,0.0839,0.0891,0.0839),
(-5.0,-4.4,16.5,19.5,0.0839,0.0807,0.0839,0.0807),
(-5.0,-4.4,19.5,22.5,0.0807,0.0786,0.0807,0.0786),
(-5.0,-4.4,22.5,26.0,0.0786,0.0769,0.0786,0.0769),
(-5.0,-4.4,26.0,30.0,0.0769,0.0751,0.0769,0.0751),
(-5.0,-4.4,30.0,34.5,0.0751,0.0723,0.0751,0.0723),
(-5.0,-4.4,34.5,40.0,0.0723,0.0695,0.0723,0.0695),
(-5.0,-4.4,40.0,46.0,0.0695,0.0673,0.0695,0.0673),
(-5.0,-4.4,46.0,52.5,0.0673,0.0654,0.0673,0.0654),
(-5.0,-4.4,52.5,60.0,0.0654,0.0639,0.0654,0.0639),
(-5.0,-4.4,60.0,69.0,0.0639,0.0627,0.0639,0.0627),
(-5.0,-4.4,69.0,79.0,0.0627,0.0618,0.0627,0.0618),
(-5.0,-4.4,79.0,90.5,0.0618,0.0614,0.0618,0.0614),
(-5.0,-4.4,90.5,105.5,0.0614,0.0613,0.0614,0.0613),
(-5.0,-4.4,105.5,123.5,0.0613,0.0615,0.0613,0.0615),
(-5.0,-4.4,123.5,143.0,0.0615,0.0622,0.0615,0.0622),
(-5.0,-4.4,143.0,163.5,0.0622,0.0633,0.0622,0.0633),
(-5.0,-4.4,163.5,185.0,0.0633,0.0644,0.0633,0.0644),
(-5.0,-4.4,185.0,208.0,0.0644,0.0656,0.0644,0.0656),
(-5.0,-4.4,208.0,232.5,0.0656,0.0668,0.0656,0.0668),
(-5.0,-4.4,232.5,258.5,0.0668,0.0674,0.0668,0.0674),
(-5.0,-4.4,258.5,286.0,0.0674,0.0682,0.0674,0.0682),
(-5.0,-4.4,286.0,331.0,0.0682,0.0693,0.0682,0.0693),
(-5.0,-4.4,331.0,396.0,0.0693,0.0707,0.0693,0.0707),
(-5.0,-4.4,396.0,468.5,0.0707,0.0721,0.0707,0.0721),
(-5.0,-4.4,468.5,549.5,0.0721,0.0735,0.0721,0.0735),
(-5.0,-4.4,549.5,639.0,0.0735,0.0747,0.0735,0.0747),
(-5.0,-4.4,639.0,738.0,0.0747,0.076,0.0747,0.076),
(-5.0,-4.4,738.0,847.5,0.076,0.0772,0.076,0.0772),
(-5.0,-4.4,847.5,968.5,0.0772,0.0784,0.0772,0.0784),
(-5.0,-4.4,968.5,1102.0,0.0784,0.0795,0.0784,0.0795),
(-5.0,-4.4,1102.0,1249.5,0.0795,0.0806,0.0795,0.0806),
(-5.0,-4.4,1249.5,1412.0,0.0806,0.0817,0.0806,0.0817),
(-5.0,-4.4,1412.0,1590.5,0.0817,0.0827,0.0817,0.0827),
(-5.0,-4.4,1590.5,1787.0,0.0827,0.0837,0.0827,0.0837),
(-5.0,-4.4,1787.0,2003.0,0.0837,0.0847,0.0837,0.0847),
(-5.0,-4.4,2003.0,2241.0,0.0847,0.0857,0.0847,0.0857),
(-5.0,-4.4,2241.0,2503.0,0.0857,0.0866,0.0857,0.0866),
(-5.0,-4.4,2503.0,2790.5,0.0866,0.0876,0.0866,0.0876),
(-5.0,-4.4,2790.5,3107.0,0.0876,0.0885,0.0876,0.0885),
(-5.0,-4.4,3107.0,3455.0,0.0885,0.0895,0.0885,0.0895),
(-5.0,-4.4,3455.0,3837.0,0.0895,0.0905,0.0895,0.0905),
(-5.0,-4.4,3837.0,4257.0,0.0905,0.0916,0.0905,0.0916),
(-5.0,-4.4,4257.0,4719.0,0.0916,0.0927,0.0916,0.0927),
(-5.0,-4.4,4719.0,5226.5,0.0927,0.0937,0.0927,0.0937),
(-5.0,-4.4,5226.5,5784.0,0.0937,0.0947,0.0937,0.0947),
(-5.0,-4.4,5784.0,6538.0,0.0947,0.0959,0.0947,0.0959),
(-5.0,-4.4,6538.0,1e+18,0.0959,0.0959,0.0959,0.0959),
(-4.4,-4.0,-1e+18,9.0,0.1403,0.1403,0.1403,0.1403),
(-4.4,-4.0,9.0,11.0,0.1403,0.1221,0.1403,0.1221),
(-4.4,-4.0,11.0,13.5,0.1221,0.1068,0.1221,0.1068),
(-4.4,-4.0,13.5,16.5,0.1068,0.0951,0.1068,0.0951),
(-4.4,-4.0,16.5,19.5,0.0951,0.0878,0.0951,0.0878),
(-4.4,-4.0,19.5,22.5,0.0878,0.083,0.0878,0.083),
(-4.4,-4.0,22.5,26.0,0.083,0.0792,0.083,0.0792),
(-4.4,-4.0,26.0,30.0,0.0792,0.0767,0.0792,0.0767),
(-4.4,-4.0,30.0,34.5,0.0767,0.0735,0.0767,0.0735),
(-4.4,-4.0,34.5,40.0,0.0735,0.0707,0.0735,0.0707),
(-4.4,-4.0,40.0,46.0,0.0707,0.0683,0.0707,0.0683),
(-4.4,-4.0,46.0,52.5,0.0683,0.0665,0.0683,0.0665),
(-4.4,-4.0,52.5,60.0,0.0665,0.0648,0.0665,0.0648),
(-4.4,-4.0,60.0,69.0,0.0648,0.0635,0.0648,0.0635),
(-4.4,-4.0,69.0,79.0,0.0635,0.0624,0.0635,0.0624),
(-4.4,-4.0,79.0,90.5,0.0624,0.0615,0.0624,0.0615),
(-4.4,-4.0,90.5,105.5,0.0615,0.0608,0.0615,0.0608),
(-4.4,-4.0,105.5,123.5,0.0608,0.0603,0.0608,0.0603),
(-4.4,-4.0,123.5,143.0,0.0603,0.0601,0.0603,0.0601),
(-4.4,-4.0,143.0,163.5,0.0601,0.0603,0.0601,0.0603),
(-4.4,-4.0,163.5,185.0,0.0603,0.0607,0.0603,0.0607),
(-4.4,-4.0,185.0,208.0,0.0607,0.0611,0.0607,0.0611),
(-4.4,-4.0,208.0,232.5,0.0611,0.0615,0.0611,0.0615),
(-4.4,-4.0,232.5,258.5,0.0615,0.0613,0.0615,0.0613),
(-4.4,-4.0,258.5,286.0,0.0613,0.0613,0.0613,0.0613),
(-4.4,-4.0,286.0,331.0,0.0613,0.0614,0.0613,0.0614),
(-4.4,-4.0,331.0,396.0,0.0614,0.0615,0.0614,0.0615),
(-4.4,-4.0,396.0,468.5,0.0615,0.0617,0.0615,0.0617),
(-4.4,-4.0,468.5,549.5,0.0617,0.0619,0.0617,0.0619),
(-4.4,-4.0,549.5,639.0,0.0619,0.0621,0.0619,0.0621),
(-4.4,-4.0,639.0,738.0,0.0621,0.0624,0.0621,0.0624),
(-4.4,-4.0,738.0,847.5,0.0624,0.0628,0.0624,0.0628),
(-4.4,-4.0,847.5,968.5,0.0628,0.0631,0.0628,0.0631),
(-4.4,-4.0,968.5,1102.0,0.0631,0.0635,0.0631,0.0635),
(-4.4,-4.0,1102.0,1249.5,0.0635,0.0639,0.0635,0.0639),
(-4.4,-4.0,1249.5,1412.0,0.0639,0.0643,0.0639,0.0643),
(-4.4,-4.0,1412.0,1590.5,0.0643,0.0648,0.0643,0.0648),
(-4.4,-4.0,1590.5,1787.0,0.0648,0.0652,0.0648,0.0652),
(-4.4,-4.0,1787.0,2003.0,0.0652,0.0657,0.0652,0.0657),
(-4.4,-4.0,2003.0,2241.0,0.0657,0.0662,0.0657,0.0662),
(-4.4,-4.0,2241.0,2503.0,0.0662,0.0667,0.0662,0.0667),
(-4.4,-4.0,2503.0,2790.5,0.0667,0.0672,0.0667,0.0672),
(-4.4,-4.0,2790.5,3107.0,0.0672,0.0678,0.0672,0.0678),
(-4.4,-4.0,3107.0,3455.0,0.0678,0.0684,0.0678,0.0684),
(-4.4,-4.0,3455.0,3837.0,0.0684,0.0688,0.0684,0.0688),
(-4.4,-4.0,3837.0,4257.0,0.0688,0.0693,0.0688,0.0693),
(-4.4,-4.0,4257.0,4719.0,0.0693,0.0698,0.0693,0.0698),
(-4.4,-4.0,4719.0,5226.5,0.0698,0.0703,0.0698,0.0703),
(-4.4,-4.0,5226.5,5784.0,0.0703,0.0708,0.0703,0.0708),
(-4.4,-4.0,5784.0,6538.0,0.0708,0.0715,0.0708,0.0715),
(-4.4,-4.0,6538.0,1e+18,0.0715,0.0715,0.0715,0.0715),
(-4.0,-3.5,-1e+18,9.0,0.1402,0.1402,0.1402,0.1402),
(-4.0,-3.5,9.0,11.0,0.1402,0.1185,0.1402,0.1185),
(-4.0,-3.5,11.0,13.5,0.1185,0.0996,0.1185,0.0996),
(-4.0,-3.5,13.5,16.5,0.0996,0.0846,0.0996,0.0846),
(-4.0,-3.5,16.5,19.5,0.0846,0.0743,0.0846,0.0743),
(-4.0,-3.5,19.5,22.5,0.0743,0.0672,0.0743,0.0672),
(-4.0,-3.5,22.5,26.0,0.0672,0.0615,0.0672,0.0615),
(-4.0,-3.5,26.0,30.0,0.0615,0.0576,0.0615,0.0576),
(-4.0,-3.5,30.0,34.5,0.0576,0.053,0.0576,0.053),
(-4.0,-3.5,34.5,40.0,0.053,0.0487,0.053,0.0487),
(-4.0,-3.5,40.0,46.0,0.0487,0.0451,0.0487,0.0451),
(-4.0,-3.5,46.0,52.5,0.0451,0.0422,0.0451,0.0422),
(-4.0,-3.5,52.5,60.0,0.0422,0.0396,0.0422,0.0396),
(-4.0,-3.5,60.0,69.0,0.0396,0.0365,0.0396,0.0365),
(-4.0,-3.5,69.0,79.0,0.0365,0.034,0.0365,0.034),
(-4.0,-3.5,79.0,90.5,0.034,0.0318,0.034,0.0318),
(-4.0,-3.5,90.5,105.5,0.0318,0.0299,0.0318,0.0299),
(-4.0,-3.5,105.5,123.5,0.0299,0.0287,0.0299,0.0287),
(-4.0,-3.5,123.5,143.0,0.0287,0.0282,0.0287,0.0282),
(-4.0,-3.5,143.0,163.5,0.0282,0.0283,0.0282,0.0283),
(-4.0,-3.5,163.5,185.0,0.0283,0.0289,0.0283,0.0289),
(-4.0,-3.5,185.0,208.0,0.0289,0.0297,0.0289,0.0297),
(-4.0,-3.5,208.0,232.5,0.0297,0.0307,0.0297,0.0307),
(-4.0,-3.5,232.5,258.5,0.0307,0.0318,0.0307,0.0318),
(-4.0,-3.5,258.5,286.0,0.0318,0.033,0.0318,0.033),
(-4.0,-3.5,286.0,331.0,0.033,0.035,0.033,0.035),
(-4.0,-3.5,331.0,396.0,0.035,0.0358,0.035,0.0358),
(-4.0,-3.5,396.0,468.5,0.0358,0.0358,0.0358,0.0358),
(-4.0,-3.5,468.5,549.5,0.0358,0.0358,0.0358,0.0358),
(-4.0,-3.5,549.5,639.0,0.0358,0.0358,0.0358,0.0358),
(-4.0,-3.5,639.0,738.0,0.0358,0.0359,0.0358,0.0359),
(-4.0,-3.5,738.0,847.5,0.0359,0.036,0.0359,0.036),
(-4.0,-3.5,847.5,968.5,0.036,0.0361,0.036,0.0361),
(-4.0,-3.5,968.5,1102.0,0.0361,0.0362,0.0361,0.0362),
(-4.0,-3.5,1102.0,1249.5,0.0362,0.0363,0.0362,0.0363),
(-4.0,-3.5,1249.5,1412.0,0.0363,0.0364,0.0363,0.0364),
(-4.0,-3.5,1412.0,1590.5,0.0364,0.0366,0.0364,0.0366),
(-4.0,-3.5,1590.5,1787.0,0.0366,0.0367,0.0366,0.0367),
(-4.0,-3.5,1787.0,2003.0,0.0367,0.0369,0.0367,0.0369),
(-4.0,-3.5,2003.0,2241.0,0.0369,0.037,0.0369,0.037),
(-4.0,-3.5,2241.0,2503.0,0.037,0.0372,0.037,0.0372),
(-4.0,-3.5,2503.0,2790.5,0.0372,0.0374,0.0372,0.0374),
(-4.0,-3.5,2790.5,3107.0,0.0374,0.0375,0.0374,0.0375),
(-4.0,-3.5,3107.0,3455.0,0.0375,0.0377,0.0375,0.0377),
(-4.0,-3.5,3455.0,3837.0,0.0377,0.0378,0.0377,0.0378),
(-4.0,-3.5,3837.0,4257.0,0.0378,0.0379,0.0378,0.0379),
(-4.0,-3.5,4257.0,4719.0,0.0379,0.0381,0.0379,0.0381),
(-4.0,-3.5,4719.0,5226.5,0.0381,0.0382,0.0381,0.0382),
(-4.0,-3.5,5226.5,5784.0,0.0382,0.0384,0.0382,0.0384),
(-4.0,-3.5,5784.0,6538.0,0.0384,0.0386,0.0384,0.0386),
(-4.0,-3.5,6538.0,1e+18,0.0386,0.0386,0.0386,0.0386),
(-3.5,-3.0,-1e+18,9.0,0.1272,0.1272,0.1272,0.1272),
(-3.5,-3.0,9.0,11.0,0.1272,0.1079,0.1272,0.1079),
(-3.5,-3.0,11.0,13.5,0.1079,0.09,0.1079,0.09),
(-3.5,-3.0,13.5,16.5,0.09,0.0752,0.09,0.0752),
(-3.5,-3.0,16.5,19.5,0.0752,0.0647,0.0752,0.0647),
(-3.5,-3.0,19.5,22.5,0.0647,0.0573,0.0647,0.0573),
(-3.5,-3.0,22.5,26.0,0.0573,0.0512,0.0573,0.0512),
(-3.5,-3.0,26.0,30.0,0.0512,0.0475,0.0512,0.0475),
(-3.5,-3.0,30.0,34.5,0.0475,0.0442,0.0475,0.0442),
(-3.5,-3.0,34.5,40.0,0.0442,0.0414,0.0442,0.0414),
(-3.5,-3.0,40.0,46.0,0.0414,0.0395,0.0414,0.0395),
(-3.5,-3.0,46.0,52.5,0.0395,0.038,0.0395,0.038),
(-3.5,-3.0,52.5,60.0,0.038,0.0369,0.038,0.0369),
(-3.5,-3.0,60.0,69.0,0.0369,0.0359,0.0369,0.0359),
(-3.5,-3.0,69.0,79.0,0.0359,0.0351,0.0359,0.0351),
(-3.5,-3.0,79.0,90.5,0.0351,0.0345,0.0351,0.0345),
(-3.5,-3.0,90.5,105.5,0.0345,0.0339,0.0345,0.0339),
(-3.5,-3.0,105.5,123.5,0.0339,0.0335,0.0339,0.0335),
(-3.5,-3.0,123.5,143.0,0.0335,0.0333,0.0335,0.0333),
(-3.5,-3.0,143.0,163.5,0.0333,0.0332,0.0333,0.0332),
(-3.5,-3.0,163.5,185.0,0.0332,0.0331,0.0332,0.0331),
(-3.5,-3.0,185.0,208.0,0.0331,0.0332,0.0331,0.0332),
(-3.5,-3.0,208.0,232.5,0.0332,0.0332,0.0332,0.0332),
(-3.5,-3.0,232.5,258.5,0.0332,0.0334,0.0332,0.0334),
(-3.5,-3.0,258.5,286.0,0.0334,0.0335,0.0334,0.0335),
(-3.5,-3.0,286.0,331.0,0.0335,0.0338,0.0335,0.0338),
(-3.5,-3.0,331.0,396.0,0.0338,0.0342,0.0338,0.0342),
(-3.5,-3.0,396.0,468.5,0.0342,0.0348,0.0342,0.0348),
(-3.5,-3.0,468.5,549.5,0.0348,0.0352,0.0348,0.0352),
(-3.5,-3.0,549.5,639.0,0.0352,0.0351,0.0352,0.0351),
(-3.5,-3.0,639.0,738.0,0.0351,0.0352,0.0351,0.0352),
(-3.5,-3.0,738.0,847.5,0.0352,0.0353,0.0352,0.0353),
(-3.5,-3.0,847.5,968.5,0.0353,0.0354,0.0353,0.0354),
(-3.5,-3.0,968.5,1102.0,0.0354,0.0356,0.0354,0.0356),
(-3.5,-3.0,1102.0,1249.5,0.0356,0.0357,0.0356,0.0357),
(-3.5,-3.0,1249.5,1412.0,0.0357,0.0358,0.0357,0.0358),
(-3.5,-3.0,1412.0,1590.5,0.0358,0.0359,0.0358,0.0359),
(-3.5,-3.0,1590.5,1787.0,0.0359,0.036,0.0359,0.036),
(-3.5,-3.0,1787.0,2003.0,0.036,0.0362,0.036,0.0362),
(-3.5,-3.0,2003.0,2241.0,0.0362,0.0363,0.0362,0.0363),
(-3.5,-3.0,2241.0,2503.0,0.0363,0.0364,0.0363,0.0364),
(-3.5,-3.0,2503.0,2790.5,0.0364,0.0366,0.0364,0.0366),
(-3.5,-3.0,2790.5,3107.0,0.0366,0.0367,0.0366,0.0367),
(-3.5,-3.0,3107.0,3455.0,0.0367,0.0368,0.0367,0.0368),
(-3.5,-3.0,3455.0,3837.0,0.0368,0.037,0.0368,0.037),
(-3.5,-3.0,3837.0,4257.0,0.037,0.0372,0.037,0.0372),
(-3.5,-3.0,4257.0,4719.0,0.0372,0.0374,0.0372,0.0374),
(-3.5,-3.0,4719.0,5226.5,0.0374,0.0376,0.0374,0.0376),
(-3.5,-3.0,5226.5,5784.0,0.0376,0.0378,0.0376,0.0378),
(-3.5,-3.0,5784.0,6538.0,0.0378,0.038,0.0378,0.038),
(-3.5,-3.0,6538.0,1e+18,0.038,0.038,0.038,0.038),
(-3.0,-2.8,-1e+18,9.0,0.0916,0.0916,0.0916,0.0916),
(-3.0,-2.8,9.0,11.0,0.0916,0.0766,0.0916,0.0766),
(-3.0,-2.8,11.0,13.5,0.0766,0.0638,0.0766,0.0638),
(-3.0,-2.8,13.5,16.5,0.0638,0.0547,0.0638,0.0547),
(-3.0,-2.8,16.5,19.5,0.0547,0.0526,0.0547,0.0526),
(-3.0,-2.8,19.5,22.5,0.0526,0.0441,0.0526,0.0441),
(-3.0,-2.8,22.5,26.0,0.0441,0.0428,0.0441,0.0428),
(-3.0,-2.8,26.0,30.0,0.0428,0.0395,0.0428,0.0395),
(-3.0,-2.8,30.0,34.5,0.0395,0.0394,0.0395,0.0394),
(-3.0,-2.8,34.5,40.0,0.0394,0.0369,0.0394,0.0369),
(-3.0,-2.8,40.0,46.0,0.0369,0.0377,0.0369,0.0377),
(-3.0,-2.8,46.0,52.5,0.0377,0.0366,0.0377,0.0366),
(-3.0,-2.8,52.5,60.0,0.0366,0.0353,0.0366,0.0353),
(-3.0,-2.8,60.0,69.0,0.0353,0.0356,0.0353,0.0356),
(-3.0,-2.8,69.0,79.0,0.0356,0.0407,0.0356,0.0407),
(-3.0,-2.8,79.0,90.5,0.0407,0.0385,0.0407,0.0385),
(-3.0,-2.8,90.5,105.5,0.0385,0.0379,0.0385,0.0379),
(-3.0,-2.8,105.5,123.5,0.0379,0.041,0.0379,0.041),
(-3.0,-2.8,123.5,143.0,0.041,0.0438,0.041,0.0438),
(-3.0,-2.8,143.0,163.5,0.0438,0.0441,0.0438,0.0441),
(-3.0,-2.8,163.5,185.0,0.0441,0.0455,0.0441,0.0455),
(-3.0,-2.8,185.0,208.0,0.0455,0.048,0.0455,0.048),
(-3.0,-2.8,208.0,232.5,0.048,0.0493,0.048,0.0493),
(-3.0,-2.8,232.5,258.5,0.0493,0.0508,0.0493,0.0508),
(-3.0,-2.8,258.5,286.0,0.0508,0.053,0.0508,0.053),
(-3.0,-2.8,286.0,331.0,0.053,0.0562,0.053,0.0562),
(-3.0,-2.8,331.0,396.0,0.0562,0.0657,0.0562,0.0657),
(-3.0,-2.8,396.0,468.5,0.0657,0.0607,0.0657,0.0607),
(-3.0,-2.8,468.5,549.5,0.0607,0.0594,0.0607,0.0594),
(-3.0,-2.8,549.5,639.0,0.0594,0.0594,0.0594,0.0594),
(-3.0,-2.8,639.0,738.0,0.0594,0.0596,0.0594,0.0596),
(-3.0,-2.8,738.0,847.5,0.0596,0.0598,0.0596,0.0598),
(-3.0,-2.8,847.5,968.5,0.0598,0.06,0.0598,0.06),
(-3.0,-2.8,968.5,1102.0,0.06,0.0602,0.06,0.0602),
(-3.0,-2.8,1102.0,1249.5,0.0602,0.0603,0.0602,0.0603),
(-3.0,-2.8,1249.5,1412.0,0.0603,0.0605,0.0603,0.0605),
(-3.0,-2.8,1412.0,1590.5,0.0605,0.0607,0.0605,0.0607),
(-3.0,-2.8,1590.5,1787.0,0.0607,0.0609,0.0607,0.0609),
(-3.0,-2.8,1787.0,2003.0,0.0609,0.0611,0.0609,0.0611),
(-3.0,-2.8,2003.0,2241.0,0.0611,0.0613,0.0611,0.0613),
(-3.0,-2.8,2241.0,2503.0,0.0613,0.0615,0.0613,0.0615),
(-3.0,-2.8,2503.0,2790.5,0.0615,0.0617,0.0615,0.0617),
(-3.0,-2.8,2790.5,3107.0,0.0617,0.0619,0.0617,0.0619),
(-3.0,-2.8,3107.0,3455.0,0.0619,0.0622,0.0619,0.0622),
(-3.0,-2.8,3455.0,3837.0,0.0622,0.0625,0.0622,0.0625),
(-3.0,-2.8,3837.0,4257.0,0.0625,0.0628,0.0625,0.0628),
(-3.0,-2.8,4257.0,4719.0,0.0628,0.0632,0.0628,0.0632),
(-3.0,-2.8,4719.0,5226.5,0.0632,0.0636,0.0632,0.0636),
(-3.0,-2.8,5226.5,5784.0,0.0636,0.0652,0.0636,0.0652),
(-3.0,-2.8,5784.0,6538.0,0.0652,0.0655,0.0652,0.0655),
(-3.0,-2.8,6538.0,1e+18,0.0655,0.0655,0.0655,0.0655),
(-2.8,-2.6,-1e+18,9.0,0.0921,0.0921,0.0921,0.0921),
(-2.8,-2.6,9.0,11.0,0.0921,0.0792,0.0921,0.0792),
(-2.8,-2.6,11.0,13.5,0.0792,0.0673,0.0792,0.0673),
(-2.8,-2.6,13.5,16.5,0.0673,0.0589,0.0673,0.0589),
(-2.8,-2.6,16.5,19.5,0.0589,0.052,0.0589,0.052),
(-2.8,-2.6,19.5,22.5,0.052,0.0485,0.052,0.0485),
(-2.8,-2.6,22.5,26.0,0.0485,0.0446,0.0485,0.0446),
(-2.8,-2.6,26.0,30.0,0.0446,0.0425,0.0446,0.0425),
(-2.8,-2.6,30.0,34.5,0.0425,0.04,0.0425,0.04),
(-2.8,-2.6,34.5,40.0,0.04,0.0366,0.04,0.0366),
(-2.8,-2.6,40.0,46.0,0.0366,0.0342,0.0366,0.0342),
(-2.8,-2.6,46.0,52.5,0.0342,0.0322,0.0342,0.0322),
(-2.8,-2.6,52.5,60.0,0.0322,0.0307,0.0322,0.0307),
(-2.8,-2.6,60.0,69.0,0.0307,0.0295,0.0307,0.0295),
(-2.8,-2.6,69.0,79.0,0.0295,0.0282,0.0295,0.0282),
(-2.8,-2.6,79.0,90.5,0.0282,0.0273,0.0282,0.0273),
(-2.8,-2.6,90.5,105.5,0.0273,0.0269,0.0273,0.0269),
(-2.8,-2.6,105.5,123.5,0.0269,0.0267,0.0269,0.0267),
(-2.8,-2.6,123.5,143.0,0.0267,0.0272,0.0267,0.0272),
(-2.8,-2.6,143.0,163.5,0.0272,0.0289,0.0272,0.0289),
(-2.8,-2.6,163.5,185.0,0.0289,0.0301,0.0289,0.0301),
(-2.8,-2.6,185.0,208.0,0.0301,0.0321,0.0301,0.0321),
(-2.8,-2.6,208.0,232.5,0.0321,0.0331,0.0321,0.0331),
(-2.8,-2.6,232.5,258.5,0.0331,0.0345,0.0331,0.0345),
(-2.8,-2.6,258.5,286.0,0.0345,0.0365,0.0345,0.0365),
(-2.8,-2.6,286.0,331.0,0.0365,0.0396,0.0365,0.0396),
(-2.8,-2.6,331.0,396.0,0.0396,0.045,0.0396,0.045),
(-2.8,-2.6,396.0,468.5,0.045,0.0478,0.045,0.0478),
(-2.8,-2.6,468.5,549.5,0.0478,0.0456,0.0478,0.0456),
(-2.8,-2.6,549.5,639.0,0.0456,0.0451,0.0456,0.0451),
(-2.8,-2.6,639.0,738.0,0.0451,0.0455,0.0451,0.0455),
(-2.8,-2.6,738.0,847.5,0.0455,0.0457,0.0455,0.0457),
(-2.8,-2.6,847.5,968.5,0.0457,0.046,0.0457,0.046),
(-2.8,-2.6,968.5,1102.0,0.046,0.0462,0.046,0.0462),
(-2.8,-2.6,1102.0,1249.5,0.0462,0.0464,0.0462,0.0464),
(-2.8,-2.6,1249.5,1412.0,0.0464,0.0466,0.0464,0.0466),
(-2.8,-2.6,1412.0,1590.5,0.0466,0.0469,0.0466,0.0469),
(-2.8,-2.6,1590.5,1787.0,0.0469,0.0471,0.0469,0.0471),
(-2.8,-2.6,1787.0,2003.0,0.0471,0.0474,0.0471,0.0474),
(-2.8,-2.6,2003.0,2241.0,0.0474,0.0477,0.0474,0.0477),
(-2.8,-2.6,2241.0,2503.0,0.0477,0.048,0.0477,0.048),
(-2.8,-2.6,2503.0,2790.5,0.048,0.0483,0.048,0.0483),
(-2.8,-2.6,2790.5,3107.0,0.0483,0.0486,0.0483,0.0486),
(-2.8,-2.6,3107.0,3455.0,0.0486,0.049,0.0486,0.049),
(-2.8,-2.6,3455.0,3837.0,0.049,0.0494,0.049,0.0494),
(-2.8,-2.6,3837.0,4257.0,0.0494,0.0499,0.0494,0.0499),
(-2.8,-2.6,4257.0,4719.0,0.0499,0.0504,0.0499,0.0504),
(-2.8,-2.6,4719.0,5226.5,0.0504,0.0509,0.0504,0.0509),
(-2.8,-2.6,5226.5,5784.0,0.0509,0.0311,0.0509,0.0311),
(-2.8,-2.6,5784.0,6538.0,0.0311,0.032,0.0311,0.032),
(-2.8,-2.6,6538.0,1e+18,0.032,0.032,0.032,0.032),
(-2.6,-2.4,-1e+18,9.0,0.1197,0.1197,0.1197,0.1197),
(-2.6,-2.4,9.0,11.0,0.1197,0.1055,0.1197,0.1055),
(-2.6,-2.4,11.0,13.5,0.1055,0.0913,0.1055,0.0913),
(-2.6,-2.4,13.5,16.5,0.0913,0.0798,0.0913,0.0798),
(-2.6,-2.4,16.5,19.5,0.0798,0.0724,0.0798,0.0724),
(-2.6,-2.4,19.5,22.5,0.0724,0.0669,0.0724,0.0669),
(-2.6,-2.4,22.5,26.0,0.0669,0.0624,0.0669,0.0624),
(-2.6,-2.4,26.0,30.0,0.0624,0.0595,0.0624,0.0595),
(-2.6,-2.4,30.0,34.5,0.0595,0.0554,0.0595,0.0554),
(-2.6,-2.4,34.5,40.0,0.0554,0.0525,0.0554,0.0525),
(-2.6,-2.4,40.0,46.0,0.0525,0.0492,0.0525,0.0492),
(-2.6,-2.4,46.0,52.5,0.0492,0.0464,0.0492,0.0464),
(-2.6,-2.4,52.5,60.0,0.0464,0.0439,0.0464,0.0439),
(-2.6,-2.4,60.0,69.0,0.0439,0.0413,0.0439,0.0413),
(-2.6,-2.4,69.0,79.0,0.0413,0.0389,0.0413,0.0389),
(-2.6,-2.4,79.0,90.5,0.0389,0.0367,0.0389,0.0367),
(-2.6,-2.4,90.5,105.5,0.0367,0.0342,0.0367,0.0342),
(-2.6,-2.4,105.5,123.5,0.0342,0.0319,0.0342,0.0319),
(-2.6,-2.4,123.5,143.0,0.0319,0.0298,0.0319,0.0298),
(-2.6,-2.4,143.0,163.5,0.0298,0.028,0.0298,0.028),
(-2.6,-2.4,163.5,185.0,0.028,0.0265,0.028,0.0265),
(-2.6,-2.4,185.0,208.0,0.0265,0.0251,0.0265,0.0251),
(-2.6,-2.4,208.0,232.5,0.0251,0.024,0.0251,0.024),
(-2.6,-2.4,232.5,258.5,0.024,0.0229,0.024,0.0229),
(-2.6,-2.4,258.5,286.0,0.0229,0.022,0.0229,0.022),
(-2.6,-2.4,286.0,331.0,0.022,0.0208,0.022,0.0208),
(-2.6,-2.4,331.0,396.0,0.0208,0.02,0.0208,0.02),
(-2.6,-2.4,396.0,468.5,0.02,0.0193,0.02,0.0193),
(-2.6,-2.4,468.5,549.5,0.0193,0.0191,0.0193,0.0191),
(-2.6,-2.4,549.5,639.0,0.0191,0.0189,0.0191,0.0189),
(-2.6,-2.4,639.0,738.0,0.0189,0.0189,0.0189,0.0189),
(-2.6,-2.4,738.0,847.5,0.0189,0.0194,0.0189,0.0194),
(-2.6,-2.4,847.5,968.5,0.0194,0.0188,0.0194,0.0188),
(-2.6,-2.4,968.5,1102.0,0.0188,0.0189,0.0188,0.0189),
(-2.6,-2.4,1102.0,1249.5,0.0189,0.0191,0.0189,0.0191),
(-2.6,-2.4,1249.5,1412.0,0.0191,0.0193,0.0191,0.0193),
(-2.6,-2.4,1412.0,1590.5,0.0193,0.0196,0.0193,0.0196),
(-2.6,-2.4,1590.5,1787.0,0.0196,0.0199,0.0196,0.0199),
(-2.6,-2.4,1787.0,2003.0,0.0199,0.0202,0.0199,0.0202),
(-2.6,-2.4,2003.0,2241.0,0.0202,0.0205,0.0202,0.0205),
(-2.6,-2.4,2241.0,2503.0,0.0205,0.0209,0.0205,0.0209),
(-2.6,-2.4,2503.0,2790.5,0.0209,0.0213,0.0209,0.0213),
(-2.6,-2.4,2790.5,3107.0,0.0213,0.0217,0.0213,0.0217),
(-2.6,-2.4,3107.0,3455.0,0.0217,0.0221,0.0217,0.0221),
(-2.6,-2.4,3455.0,3837.0,0.0221,0.0226,0.0221,0.0226),
(-2.6,-2.4,3837.0,4257.0,0.0226,0.0232,0.0226,0.0232),
(-2.6,-2.4,4257.0,4719.0,0.0232,0.0238,0.0232,0.0238),
(-2.6,-2.4,4719.0,5226.5,0.0238,0.0244,0.0238,0.0244),
(-2.6,-2.4,5226.5,5784.0,0.0244,0.025,0.0244,0.025),
(-2.6,-2.4,5784.0,6538.0,0.025,0.0456,0.025,0.0456),
(-2.6,-2.4,6538.0,1e+18,0.0456,0.0456,0.0456,0.0456),
(-2.4,-2.2,-1e+18,9.0,0.0641,0.0641,0.0641,0.0641),
(-2.4,-2.2,9.0,11.0,0.0641,0.0594,0.0641,0.0594),
(-2.4,-2.2,11.0,13.5,0.0594,0.054,0.0594,0.054),
(-2.4,-2.2,13.5,16.5,0.054,0.0498,0.054,0.0498),
(-2.4,-2.2,16.5,19.5,0.0498,0.0471,0.0498,0.0471),
(-2.4,-2.2,19.5,22.5,0.0471,0.0452,0.0471,0.0452),
(-2.4,-2.2,22.5,26.0,0.0452,0.0437,0.0452,0.0437),
(-2.4,-2.2,26.0,30.0,0.0437,0.0428,0.0437,0.0428),
(-2.4,-2.2,30.0,34.5,0.0428,0.0411,0.0428,0.0411),
(-2.4,-2.2,34.5,40.0,0.0411,0.0394,0.0411,0.0394),
(-2.4,-2.2,40.0,46.0,0.0394,0.0379,0.0394,0.0379),
(-2.4,-2.2,46.0,52.5,0.0379,0.0367,0.0379,0.0367),
(-2.4,-2.2,52.5,60.0,0.0367,0.0355,0.0367,0.0355),
(-2.4,-2.2,60.0,69.0,0.0355,0.0343,0.0355,0.0343),
(-2.4,-2.2,69.0,79.0,0.0343,0.0332,0.0343,0.0332),
(-2.4,-2.2,79.0,90.5,0.0332,0.0321,0.0332,0.0321),
(-2.4,-2.2,90.5,105.5,0.0321,0.0309,0.0321,0.0309),
(-2.4,-2.2,105.5,123.5,0.0309,0.0298,0.0309,0.0298),
(-2.4,-2.2,123.5,143.0,0.0298,0.0288,0.0298,0.0288),
(-2.4,-2.2,143.0,163.5,0.0288,0.028,0.0288,0.028),
(-2.4,-2.2,163.5,185.0,0.028,0.0272,0.028,0.0272),
(-2.4,-2.2,185.0,208.0,0.0272,0.0264,0.0272,0.0264),
(-2.4,-2.2,208.0,232.5,0.0264,0.0258,0.0264,0.0258),
(-2.4,-2.2,232.5,258.5,0.0258,0.0251,0.0258,0.0251),
(-2.4,-2.2,258.5,286.0,0.0251,0.0246,0.0251,0.0246),
(-2.4,-2.2,286.0,331.0,0.0246,0.0237,0.0246,0.0237),
(-2.4,-2.2,331.0,396.0,0.0237,0.0227,0.0237,0.0227),
(-2.4,-2.2,396.0,468.5,0.0227,0.0219,0.0227,0.0219),
(-2.4,-2.2,468.5,549.5,0.0219,0.0212,0.0219,0.0212),
(-2.4,-2.2,549.5,639.0,0.0212,0.0207,0.0212,0.0207),
(-2.4,-2.2,639.0,738.0,0.0207,0.0203,0.0207,0.0203),
(-2.4,-2.2,738.0,847.5,0.0203,0.0203,0.0203,0.0203),
(-2.4,-2.2,847.5,968.5,0.0203,0.0203,0.0203,0.0203),
(-2.4,-2.2,968.5,1102.0,0.0203,0.0206,0.0203,0.0206),
(-2.4,-2.2,1102.0,1249.5,0.0206,0.0208,0.0206,0.0208),
(-2.4,-2.2,1249.5,1412.0,0.0208,0.0214,0.0208,0.0214),
(-2.4,-2.2,1412.0,1590.5,0.0214,0.0222,0.0214,0.0222),
(-2.4,-2.2,1590.5,1787.0,0.0222,0.023,0.0222,0.023),
(-2.4,-2.2,1787.0,2003.0,0.023,0.024,0.023,0.024),
(-2.4,-2.2,2003.0,2241.0,0.024,0.025,0.024,0.025),
(-2.4,-2.2,2241.0,2503.0,0.025,0.0261,0.025,0.0261),
(-2.4,-2.2,2503.0,2790.5,0.0261,0.0273,0.0261,0.0273),
(-2.4,-2.2,2790.5,3107.0,0.0273,0.0285,0.0273,0.0285),
(-2.4,-2.2,3107.0,3455.0,0.0285,0.0298,0.0285,0.0298),
(-2.4,-2.2,3455.0,3837.0,0.0298,0.0312,0.0298,0.0312),
(-2.4,-2.2,3837.0,4257.0,0.0312,0.0327,0.0312,0.0327),
(-2.4,-2.2,4257.0,4719.0,0.0327,0.0342,0.0327,0.0342),
(-2.4,-2.2,4719.0,5226.5,0.0342,0.0357,0.0342,0.0357),
(-2.4,-2.2,5226.5,5784.0,0.0357,0.0373,0.0357,0.0373),
(-2.4,-2.2,5784.0,6538.0,0.0373,0.0393,0.0373,0.0393),
(-2.4,-2.2,6538.0,1e+18,0.0393,0.0393,0.0393,0.0393),
(-2.2,-2.0,-1e+18,9.0,0.0634,0.0634,0.0634,0.0634),
(-2.2,-2.0,9.0,11.0,0.0634,0.0597,0.0634,0.0597),
(-2.2,-2.0,11.0,13.5,0.0597,0.0558,0.0597,0.0558),
(-2.2,-2.0,13.5,16.5,0.0558,0.0522,0.0558,0.0522),
(-2.2,-2.0,16.5,19.5,0.0522,0.0493,0.0522,0.0493),
(-2.2,-2.0,19.5,22.5,0.0493,0.0475,0.0493,0.0475),
(-2.2,-2.0,22.5,26.0,0.0475,0.0461,0.0475,0.0461),
(-2.2,-2.0,26.0,30.0,0.0461,0.0452,0.0461,0.0452),
(-2.2,-2.0,30.0,34.5,0.0452,0.043,0.0452,0.043),
(-2.2,-2.0,34.5,40.0,0.043,0.0412,0.043,0.0412),
(-2.2,-2.0,40.0,46.0,0.0412,0.0391,0.0412,0.0391),
(-2.2,-2.0,46.0,52.5,0.0391,0.0375,0.0391,0.0375),
(-2.2,-2.0,52.5,60.0,0.0375,0.0358,0.0375,0.0358),
(-2.2,-2.0,60.0,69.0,0.0358,0.034,0.0358,0.034),
(-2.2,-2.0,69.0,79.0,0.034,0.0324,0.034,0.0324),
(-2.2,-2.0,79.0,90.5,0.0324,0.0308,0.0324,0.0308),
(-2.2,-2.0,90.5,105.5,0.0308,0.0291,0.0308,0.0291),
(-2.2,-2.0,105.5,123.5,0.0291,0.0274,0.0291,0.0274),
(-2.2,-2.0,123.5,143.0,0.0274,0.0259,0.0274,0.0259),
(-2.2,-2.0,143.0,163.5,0.0259,0.0246,0.0259,0.0246),
(-2.2,-2.0,163.5,185.0,0.0246,0.0234,0.0246,0.0234),
(-2.2,-2.0,185.0,208.0,0.0234,0.0223,0.0234,0.0223),
(-2.2,-2.0,208.0,232.5,0.0223,0.0213,0.0223,0.0213),
(-2.2,-2.0,232.5,258.5,0.0213,0.0203,0.0213,0.0203),
(-2.2,-2.0,258.5,286.0,0.0203,0.0194,0.0203,0.0194),
(-2.2,-2.0,286.0,331.0,0.0194,0.0182,0.0194,0.0182),
(-2.2,-2.0,331.0,396.0,0.0182,0.0167,0.0182,0.0167),
(-2.2,-2.0,396.0,468.5,0.0167,0.0155,0.0167,0.0155),
(-2.2,-2.0,468.5,549.5,0.0155,0.0145,0.0155,0.0145),
(-2.2,-2.0,549.5,639.0,0.0145,0.0139,0.0145,0.0139),
(-2.2,-2.0,639.0,738.0,0.0139,0.0136,0.0139,0.0136),
(-2.2,-2.0,738.0,847.5,0.0136,0.0137,0.0136,0.0137),
(-2.2,-2.0,847.5,968.5,0.0137,0.0142,0.0137,0.0142),
(-2.2,-2.0,968.5,1102.0,0.0142,0.0148,0.0142,0.0148),
(-2.2,-2.0,1102.0,1249.5,0.0148,0.0156,0.0148,0.0156),
(-2.2,-2.0,1249.5,1412.0,0.0156,0.0164,0.0156,0.0164),
(-2.2,-2.0,1412.0,1590.5,0.0164,0.0173,0.0164,0.0173),
(-2.2,-2.0,1590.5,1787.0,0.0173,0.0184,0.0173,0.0184),
(-2.2,-2.0,1787.0,2003.0,0.0184,0.0196,0.0184,0.0196),
(-2.2,-2.0,2003.0,2241.0,0.0196,0.0208,0.0196,0.0208),
(-2.2,-2.0,2241.0,2503.0,0.0208,0.0221,0.0208,0.0221),
(-2.2,-2.0,2503.0,2790.5,0.0221,0.0235,0.0221,0.0235),
(-2.2,-2.0,2790.5,3107.0,0.0235,0.0249,0.0235,0.0249),
(-2.2,-2.0,3107.0,3455.0,0.0249,0.0264,0.0249,0.0264),
(-2.2,-2.0,3455.0,3837.0,0.0264,0.0279,0.0264,0.0279),
(-2.2,-2.0,3837.0,4257.0,0.0279,0.0295,0.0279,0.0295),
(-2.2,-2.0,4257.0,4719.0,0.0295,0.0312,0.0295,0.0312),
(-2.2,-2.0,4719.0,5226.5,0.0312,0.0328,0.0312,0.0328),
(-2.2,-2.0,5226.5,5784.0,0.0328,0.0345,0.0328,0.0345),
(-2.2,-2.0,5784.0,6538.0,0.0345,0.0517,0.0345,0.0517),
(-2.2,-2.0,6538.0,1e+18,0.0517,0.0517,0.0517,0.0517),
(-2.0,-1.8,-1e+18,9.0,0.0662,0.0662,0.0662,0.0662),
(-2.0,-1.8,9.0,11.0,0.0662,0.0619,0.0662,0.0619),
(-2.0,-1.8,11.0,13.5,0.0619,0.057,0.0619,0.057),
(-2.0,-1.8,13.5,16.5,0.057,0.0532,0.057,0.0532),
(-2.0,-1.8,16.5,19.5,0.0532,0.0509,0.0532,0.0509),
(-2.0,-1.8,19.5,22.5,0.0509,0.0489,0.0509,0.0489),
(-2.0,-1.8,22.5,26.0,0.0489,0.0473,0.0489,0.0473),
(-2.0,-1.8,26.0,30.0,0.0473,0.0463,0.0473,0.0463),
(-2.0,-1.8,30.0,34.5,0.0463,0.0443,0.0463,0.0443),
(-2.0,-1.8,34.5,40.0,0.0443,0.042,0.0443,0.042),
(-2.0,-1.8,40.0,46.0,0.042,0.0401,0.042,0.0401),
(-2.0,-1.8,46.0,52.5,0.0401,0.0382,0.0401,0.0382),
(-2.0,-1.8,52.5,60.0,0.0382,0.0365,0.0382,0.0365),
(-2.0,-1.8,60.0,69.0,0.0365,0.0347,0.0365,0.0347),
(-2.0,-1.8,69.0,79.0,0.0347,0.033,0.0347,0.033),
(-2.0,-1.8,79.0,90.5,0.033,0.0313,0.033,0.0313),
(-2.0,-1.8,90.5,105.5,0.0313,0.0295,0.0313,0.0295),
(-2.0,-1.8,105.5,123.5,0.0295,0.0278,0.0295,0.0278),
(-2.0,-1.8,123.5,143.0,0.0278,0.0262,0.0278,0.0262),
(-2.0,-1.8,143.0,163.5,0.0262,0.0248,0.0262,0.0248),
(-2.0,-1.8,163.5,185.0,0.0248,0.0236,0.0248,0.0236),
(-2.0,-1.8,185.0,208.0,0.0236,0.0225,0.0236,0.0225),
(-2.0,-1.8,208.0,232.5,0.0225,0.0214,0.0225,0.0214),
(-2.0,-1.8,232.5,258.5,0.0214,0.0204,0.0214,0.0204),
(-2.0,-1.8,258.5,286.0,0.0204,0.0195,0.0204,0.0195),
(-2.0,-1.8,286.0,331.0,0.0195,0.0182,0.0195,0.0182),
(-2.0,-1.8,331.0,396.0,0.0182,0.0167,0.0182,0.0167),
(-2.0,-1.8,396.0,468.5,0.0167,0.0154,0.0167,0.0154),
(-2.0,-1.8,468.5,549.5,0.0154,0.0144,0.0154,0.0144),
(-2.0,-1.8,549.5,639.0,0.0144,0.0137,0.0144,0.0137),
(-2.0,-1.8,639.0,738.0,0.0137,0.0133,0.0137,0.0133),
(-2.0,-1.8,738.0,847.5,0.0133,0.0132,0.0133,0.0132),
(-2.0,-1.8,847.5,968.5,0.0132,0.0134,0.0132,0.0134),
(-2.0,-1.8,968.5,1102.0,0.0134,0.0139,0.0134,0.0139),
(-2.0,-1.8,1102.0,1249.5,0.0139,0.0143,0.0139,0.0143),
(-2.0,-1.8,1249.5,1412.0,0.0143,0.0149,0.0143,0.0149),
(-2.0,-1.8,1412.0,1590.5,0.0149,0.0155,0.0149,0.0155),
(-2.0,-1.8,1590.5,1787.0,0.0155,0.0161,0.0155,0.0161),
(-2.0,-1.8,1787.0,2003.0,0.0161,0.0168,0.0161,0.0168),
(-2.0,-1.8,2003.0,2241.0,0.0168,0.0177,0.0168,0.0177),
(-2.0,-1.8,2241.0,2503.0,0.0177,0.0187,0.0177,0.0187),
(-2.0,-1.8,2503.0,2790.5,0.0187,0.0197,0.0187,0.0197),
(-2.0,-1.8,2790.5,3107.0,0.0197,0.0207,0.0197,0.0207),
(-2.0,-1.8,3107.0,3455.0,0.0207,0.0218,0.0207,0.0218),
(-2.0,-1.8,3455.0,3837.0,0.0218,0.023,0.0218,0.023),
(-2.0,-1.8,3837.0,4257.0,0.023,0.0242,0.023,0.0242),
(-2.0,-1.8,4257.0,4719.0,0.0242,0.0254,0.0242,0.0254),
(-2.0,-1.8,4719.0,5226.5,0.0254,0.0267,0.0254,0.0267),
(-2.0,-1.8,5226.5,5784.0,0.0267,0.0279,0.0267,0.0279),
(-2.0,-1.8,5784.0,6538.0,0.0279,0.0425,0.0279,0.0425),
(-2.0,-1.8,6538.0,1e+18,0.0425,0.0425,0.0425,0.0425),
(-1.8,-1.6,-1e+18,9.0,0.0687,0.0687,0.0687,0.0687),
(-1.8,-1.6,9.0,11.0,0.0687,0.0642,0.0687,0.0642),
(-1.8,-1.6,11.0,13.5,0.0642,0.0595,0.0642,0.0595),
(-1.8,-1.6,13.5,16.5,0.0595,0.0549,0.0595,0.0549),
(-1.8,-1.6,16.5,19.5,0.0549,0.052,0.0549,0.052),
(-1.8,-1.6,19.5,22.5,0.052,0.0498,0.052,0.0498),
(-1.8,-1.6,22.5,26.0,0.0498,0.048,0.0498,0.048),
(-1.8,-1.6,26.0,30.0,0.048,0.0468,0.048,0.0468),
(-1.8,-1.6,30.0,34.5,0.0468,0.0446,0.0468,0.0446),
(-1.8,-1.6,34.5,40.0,0.0446,0.0423,0.0446,0.0423),
(-1.8,-1.6,40.0,46.0,0.0423,0.0401,0.0423,0.0401),
(-1.8,-1.6,46.0,52.5,0.0401,0.0383,0.0401,0.0383),
(-1.8,-1.6,52.5,60.0,0.0383,0.0365,0.0383,0.0365),
(-1.8,-1.6,60.0,69.0,0.0365,0.0347,0.0365,0.0347),
(-1.8,-1.6,69.0,79.0,0.0347,0.033,0.0347,0.033),
(-1.8,-1.6,79.0,90.5,0.033,0.0313,0.033,0.0313),
(-1.8,-1.6,90.5,105.5,0.0313,0.0295,0.0313,0.0295),
(-1.8,-1.6,105.5,123.5,0.0295,0.0278,0.0295,0.0278),
(-1.8,-1.6,123.5,143.0,0.0278,0.0262,0.0278,0.0262),
(-1.8,-1.6,143.0,163.5,0.0262,0.0248,0.0262,0.0248),
(-1.8,-1.6,163.5,185.0,0.0248,0.0236,0.0248,0.0236),
(-1.8,-1.6,185.0,208.0,0.0236,0.0224,0.0236,0.0224),
(-1.8,-1.6,208.0,232.5,0.0224,0.0213,0.0224,0.0213),
(-1.8,-1.6,232.5,258.5,0.0213,0.0203,0.0213,0.0203),
(-1.8,-1.6,258.5,286.0,0.0203,0.0194,0.0203,0.0194),
(-1.8,-1.6,286.0,331.0,0.0194,0.0181,0.0194,0.0181),
(-1.8,-1.6,331.0,396.0,0.0181,0.0166,0.0181,0.0166),
(-1.8,-1.6,396.0,468.5,0.0166,0.0154,0.0166,0.0154),
(-1.8,-1.6,468.5,549.5,0.0154,0.0144,0.0154,0.0144),
(-1.8,-1.6,549.5,639.0,0.0144,0.0136,0.0144,0.0136),
(-1.8,-1.6,639.0,738.0,0.0136,0.0132,0.0136,0.0132),
(-1.8,-1.6,738.0,847.5,0.0132,0.013,0.0132,0.013),
(-1.8,-1.6,847.5,968.5,0.013,0.0132,0.013,0.0132),
(-1.8,-1.6,968.5,1102.0,0.0132,0.0136,0.0132,0.0136),
(-1.8,-1.6,1102.0,1249.5,0.0136,0.0138,0.0136,0.0138),
(-1.8,-1.6,1249.5,1412.0,0.0138,0.0142,0.0138,0.0142),
(-1.8,-1.6,1412.0,1590.5,0.0142,0.0147,0.0142,0.0147),
(-1.8,-1.6,1590.5,1787.0,0.0147,0.015,0.0147,0.015),
(-1.8,-1.6,1787.0,2003.0,0.015,0.0155,0.015,0.0155),
(-1.8,-1.6,2003.0,2241.0,0.0155,0.016,0.0155,0.016),
(-1.8,-1.6,2241.0,2503.0,0.016,0.0167,0.016,0.0167),
(-1.8,-1.6,2503.0,2790.5,0.0167,0.0175,0.0167,0.0175),
(-1.8,-1.6,2790.5,3107.0,0.0175,0.0183,0.0175,0.0183),
(-1.8,-1.6,3107.0,3455.0,0.0183,0.0191,0.0183,0.0191),
(-1.8,-1.6,3455.0,3837.0,0.0191,0.0201,0.0191,0.0201),
(-1.8,-1.6,3837.0,4257.0,0.0201,0.021,0.0201,0.021),
(-1.8,-1.6,4257.0,4719.0,0.021,0.022,0.021,0.022),
(-1.8,-1.6,4719.0,5226.5,0.022,0.023,0.022,0.023),
(-1.8,-1.6,5226.5,5784.0,0.023,0.024,0.023,0.024),
(-1.8,-1.6,5784.0,6538.0,0.024,0.045,0.024,0.045),
(-1.8,-1.6,6538.0,1e+18,0.045,0.045,0.045,0.045),
(-1.6,-1.4,-1e+18,9.0,0.0618,0.0618,0.0618,0.0618),
(-1.6,-1.4,9.0,11.0,0.0618,0.0561,0.0618,0.0561),
(-1.6,-1.4,11.0,13.5,0.0561,0.0499,0.0561,0.0499),
(-1.6,-1.4,13.5,16.5,0.0499,0.0457,0.0499,0.0457),
(-1.6,-1.4,16.5,19.5,0.0457,0.0421,0.0457,0.0421),
(-1.6,-1.4,19.5,22.5,0.0421,0.0398,0.0421,0.0398),
(-1.6,-1.4,22.5,26.0,0.0398,0.0377,0.0398,0.0377),
(-1.6,-1.4,26.0,30.0,0.0377,0.0369,0.0377,0.0369),
(-1.6,-1.4,30.0,34.5,0.0369,0.0351,0.0369,0.0351),
(-1.6,-1.4,34.5,40.0,0.0351,0.0331,0.0351,0.0331),
(-1.6,-1.4,40.0,46.0,0.0331,0.0317,0.0331,0.0317),
(-1.6,-1.4,46.0,52.5,0.0317,0.0303,0.0317,0.0303),
(-1.6,-1.4,52.5,60.0,0.0303,0.0291,0.0303,0.0291),
(-1.6,-1.4,60.0,69.0,0.0291,0.028,0.0291,0.028),
(-1.6,-1.4,69.0,79.0,0.028,0.027,0.028,0.027),
(-1.6,-1.4,79.0,90.5,0.027,0.026,0.027,0.026),
(-1.6,-1.4,90.5,105.5,0.026,0.025,0.026,0.025),
(-1.6,-1.4,105.5,123.5,0.025,0.0241,0.025,0.0241),
(-1.6,-1.4,123.5,143.0,0.0241,0.0233,0.0241,0.0233),
(-1.6,-1.4,143.0,163.5,0.0233,0.0227,0.0233,0.0227),
(-1.6,-1.4,163.5,185.0,0.0227,0.0221,0.0227,0.0221),
(-1.6,-1.4,185.0,208.0,0.0221,0.0216,0.0221,0.0216),
(-1.6,-1.4,208.0,232.5,0.0216,0.0211,0.0216,0.0211),
(-1.6,-1.4,232.5,258.5,0.0211,0.0207,0.0211,0.0207),
(-1.6,-1.4,258.5,286.0,0.0207,0.0203,0.0207,0.0203),
(-1.6,-1.4,286.0,331.0,0.0203,0.0197,0.0203,0.0197),
(-1.6,-1.4,331.0,396.0,0.0197,0.0191,0.0197,0.0191),
(-1.6,-1.4,396.0,468.5,0.0191,0.0186,0.0191,0.0186),
(-1.6,-1.4,468.5,549.5,0.0186,0.0183,0.0186,0.0183),
(-1.6,-1.4,549.5,639.0,0.0183,0.018,0.0183,0.018),
(-1.6,-1.4,639.0,738.0,0.018,0.0179,0.018,0.0179),
(-1.6,-1.4,738.0,847.5,0.0179,0.0179,0.0179,0.0179),
(-1.6,-1.4,847.5,968.5,0.0179,0.0181,0.0179,0.0181),
(-1.6,-1.4,968.5,1102.0,0.0181,0.0183,0.0181,0.0183),
(-1.6,-1.4,1102.0,1249.5,0.0183,0.0186,0.0183,0.0186),
(-1.6,-1.4,1249.5,1412.0,0.0186,0.0188,0.0186,0.0188),
(-1.6,-1.4,1412.0,1590.5,0.0188,0.0191,0.0188,0.0191),
(-1.6,-1.4,1590.5,1787.0,0.0191,0.0194,0.0191,0.0194),
(-1.6,-1.4,1787.0,2003.0,0.0194,0.0197,0.0194,0.0197),
(-1.6,-1.4,2003.0,2241.0,0.0197,0.02,0.0197,0.02),
(-1.6,-1.4,2241.0,2503.0,0.02,0.0204,0.02,0.0204),
(-1.6,-1.4,2503.0,2790.5,0.0204,0.0208,0.0204,0.0208),
(-1.6,-1.4,2790.5,3107.0,0.0208,0.0213,0.0208,0.0213),
(-1.6,-1.4,3107.0,3455.0,0.0213,0.0218,0.0213,0.0218),
(-1.6,-1.4,3455.0,3837.0,0.0218,0.0224,0.0218,0.0224),
(-1.6,-1.4,3837.0,4257.0,0.0224,0.023,0.0224,0.023),
(-1.6,-1.4,4257.0,4719.0,0.023,0.0236,0.023,0.0236),
(-1.6,-1.4,4719.0,5226.5,0.0236,0.0243,0.0236,0.0243),
(-1.6,-1.4,5226.5,5784.0,0.0243,0.0249,0.0243,0.0249),
(-1.6,-1.4,5784.0,6538.0,0.0249,0.0291,0.0249,0.0291),
(-1.6,-1.4,6538.0,1e+18,0.0291,0.0291,0.0291,0.0291),
(-1.4,-1.2,-1e+18,9.0,0.0635,0.0635,0.0635,0.0635),
(-1.4,-1.2,9.0,11.0,0.0635,0.0572,0.0635,0.0572),
(-1.4,-1.2,11.0,13.5,0.0572,0.0496,0.0572,0.0496),
(-1.4,-1.2,13.5,16.5,0.0496,0.0433,0.0496,0.0433),
(-1.4,-1.2,16.5,19.5,0.0433,0.0384,0.0433,0.0384),
(-1.4,-1.2,19.5,22.5,0.0384,0.0347,0.0384,0.0347),
(-1.4,-1.2,22.5,26.0,0.0347,0.0314,0.0347,0.0314),
(-1.4,-1.2,26.0,30.0,0.0314,0.0296,0.0314,0.0296),
(-1.4,-1.2,30.0,34.5,0.0296,0.027,0.0296,0.027),
(-1.4,-1.2,34.5,40.0,0.027,0.0248,0.027,0.0248),
(-1.4,-1.2,40.0,46.0,0.0248,0.0227,0.0248,0.0227),
(-1.4,-1.2,46.0,52.5,0.0227,0.0209,0.0227,0.0209),
(-1.4,-1.2,52.5,60.0,0.0209,0.0194,0.0209,0.0194),
(-1.4,-1.2,60.0,69.0,0.0194,0.018,0.0194,0.018),
(-1.4,-1.2,69.0,79.0,0.018,0.0167,0.018,0.0167),
(-1.4,-1.2,79.0,90.5,0.0167,0.0155,0.0167,0.0155),
(-1.4,-1.2,90.5,105.5,0.0155,0.0143,0.0155,0.0143),
(-1.4,-1.2,105.5,123.5,0.0143,0.0132,0.0143,0.0132),
(-1.4,-1.2,123.5,143.0,0.0132,0.0123,0.0132,0.0123),
(-1.4,-1.2,143.0,163.5,0.0123,0.0115,0.0123,0.0115),
(-1.4,-1.2,163.5,185.0,0.0115,0.0108,0.0115,0.0108),
(-1.4,-1.2,185.0,208.0,0.0108,0.0102,0.0108,0.0102),
(-1.4,-1.2,208.0,232.5,0.0102,0.0096,0.0102,0.0096),
(-1.4,-1.2,232.5,258.5,0.0096,0.0091,0.0096,0.0091),
(-1.4,-1.2,258.5,286.0,0.0091,0.0086,0.0091,0.0086),
(-1.4,-1.2,286.0,331.0,0.0086,0.0079,0.0086,0.0079),
(-1.4,-1.2,331.0,396.0,0.0079,0.007,0.0079,0.007),
(-1.4,-1.2,396.0,468.5,0.007,0.0063,0.007,0.0063),
(-1.4,-1.2,468.5,549.5,0.0063,0.0059,0.0063,0.0059),
(-1.4,-1.2,549.5,639.0,0.0059,0.0056,0.0059,0.0056),
(-1.4,-1.2,639.0,738.0,0.0056,0.0056,0.0056,0.0056),
(-1.4,-1.2,738.0,847.5,0.0056,0.0059,0.0056,0.0059),
(-1.4,-1.2,847.5,968.5,0.0059,0.0065,0.0059,0.0065),
(-1.4,-1.2,968.5,1102.0,0.0065,0.0072,0.0065,0.0072),
(-1.4,-1.2,1102.0,1249.5,0.0072,0.0078,0.0072,0.0078),
(-1.4,-1.2,1249.5,1412.0,0.0078,0.0085,0.0078,0.0085),
(-1.4,-1.2,1412.0,1590.5,0.0085,0.0093,0.0085,0.0093),
(-1.4,-1.2,1590.5,1787.0,0.0093,0.0101,0.0093,0.0101),
(-1.4,-1.2,1787.0,2003.0,0.0101,0.011,0.0101,0.011),
(-1.4,-1.2,2003.0,2241.0,0.011,0.0118,0.011,0.0118),
(-1.4,-1.2,2241.0,2503.0,0.0118,0.0126,0.0118,0.0126),
(-1.4,-1.2,2503.0,2790.5,0.0126,0.0135,0.0126,0.0135),
(-1.4,-1.2,2790.5,3107.0,0.0135,0.0144,0.0135,0.0144),
(-1.4,-1.2,3107.0,3455.0,0.0144,0.0152,0.0144,0.0152),
(-1.4,-1.2,3455.0,3837.0,0.0152,0.0161,0.0152,0.0161),
(-1.4,-1.2,3837.0,4257.0,0.0161,0.017,0.0161,0.017),
(-1.4,-1.2,4257.0,4719.0,0.017,0.0179,0.017,0.0179),
(-1.4,-1.2,4719.0,5226.5,0.0179,0.0187,0.0179,0.0187),
(-1.4,-1.2,5226.5,5784.0,0.0187,0.0196,0.0187,0.0196),
(-1.4,-1.2,5784.0,6538.0,0.0196,0.0276,0.0196,0.0276),
(-1.4,-1.2,6538.0,1e+18,0.0276,0.0276,0.0276,0.0276),
(-1.2,-1.0,-1e+18,9.0,0.0645,0.0645,0.0645,0.0645),
(-1.2,-1.0,9.0,11.0,0.0645,0.0574,0.0645,0.0574),
(-1.2,-1.0,11.0,13.5,0.0574,0.0488,0.0574,0.0488),
(-1.2,-1.0,13.5,16.5,0.0488,0.0422,0.0488,0.0422),
(-1.2,-1.0,16.5,19.5,0.0422,0.0372,0.0422,0.0372),
(-1.2,-1.0,19.5,22.5,0.0372,0.0335,0.0372,0.0335),
(-1.2,-1.0,22.5,26.0,0.0335,0.0304,0.0335,0.0304),
(-1.2,-1.0,26.0,30.0,0.0304,0.0289,0.0304,0.0289),
(-1.2,-1.0,30.0,34.5,0.0289,0.0263,0.0289,0.0263),
(-1.2,-1.0,34.5,40.0,0.0263,0.0241,0.0263,0.0241),
(-1.2,-1.0,40.0,46.0,0.0241,0.0222,0.0241,0.0222),
(-1.2,-1.0,46.0,52.5,0.0222,0.0206,0.0222,0.0206),
(-1.2,-1.0,52.5,60.0,0.0206,0.0192,0.0206,0.0192),
(-1.2,-1.0,60.0,69.0,0.0192,0.0178,0.0192,0.0178),
(-1.2,-1.0,69.0,79.0,0.0178,0.0166,0.0178,0.0166),
(-1.2,-1.0,79.0,90.5,0.0166,0.0155,0.0166,0.0155),
(-1.2,-1.0,90.5,105.5,0.0155,0.0143,0.0155,0.0143),
(-1.2,-1.0,105.5,123.5,0.0143,0.0132,0.0143,0.0132),
(-1.2,-1.0,123.5,143.0,0.0132,0.0122,0.0132,0.0122),
(-1.2,-1.0,143.0,163.5,0.0122,0.0114,0.0122,0.0114),
(-1.2,-1.0,163.5,185.0,0.0114,0.0106,0.0114,0.0106),
(-1.2,-1.0,185.0,208.0,0.0106,0.01,0.0106,0.01),
(-1.2,-1.0,208.0,232.5,0.01,0.0093,0.01,0.0093),
(-1.2,-1.0,232.5,258.5,0.0093,0.0088,0.0093,0.0088),
(-1.2,-1.0,258.5,286.0,0.0088,0.0082,0.0088,0.0082),
(-1.2,-1.0,286.0,331.0,0.0082,0.0075,0.0082,0.0075),
(-1.2,-1.0,331.0,396.0,0.0075,0.0066,0.0075,0.0066),
(-1.2,-1.0,396.0,468.5,0.0066,0.0059,0.0066,0.0059),
(-1.2,-1.0,468.5,549.5,0.0059,0.0053,0.0059,0.0053),
(-1.2,-1.0,549.5,639.0,0.0053,0.0051,0.0053,0.0051),
(-1.2,-1.0,639.0,738.0,0.0051,0.005,0.0051,0.005),
(-1.2,-1.0,738.0,847.5,0.005,0.0053,0.005,0.0053),
(-1.2,-1.0,847.5,968.5,0.0053,0.0058,0.0053,0.0058),
(-1.2,-1.0,968.5,1102.0,0.0058,0.0064,0.0058,0.0064),
(-1.2,-1.0,1102.0,1249.5,0.0064,0.0069,0.0064,0.0069),
(-1.2,-1.0,1249.5,1412.0,0.0069,0.0075,0.0069,0.0075),
(-1.2,-1.0,1412.0,1590.5,0.0075,0.0082,0.0075,0.0082),
(-1.2,-1.0,1590.5,1787.0,0.0082,0.0089,0.0082,0.0089),
(-1.2,-1.0,1787.0,2003.0,0.0089,0.0096,0.0089,0.0096),
(-1.2,-1.0,2003.0,2241.0,0.0096,0.0103,0.0096,0.0103),
(-1.2,-1.0,2241.0,2503.0,0.0103,0.011,0.0103,0.011),
(-1.2,-1.0,2503.0,2790.5,0.011,0.0117,0.011,0.0117),
(-1.2,-1.0,2790.5,3107.0,0.0117,0.0124,0.0117,0.0124),
(-1.2,-1.0,3107.0,3455.0,0.0124,0.0132,0.0124,0.0132),
(-1.2,-1.0,3455.0,3837.0,0.0132,0.014,0.0132,0.014),
(-1.2,-1.0,3837.0,4257.0,0.014,0.0147,0.014,0.0147),
(-1.2,-1.0,4257.0,4719.0,0.0147,0.0154,0.0147,0.0154),""",
    """(-1.2,-1.0,4719.0,5226.5,0.0154,0.0161,0.0154,0.0161),
(-1.2,-1.0,5226.5,5784.0,0.0161,0.0168,0.0161,0.0168),
(-1.2,-1.0,5784.0,6538.0,0.0168,0.0206,0.0168,0.0206),
(-1.2,-1.0,6538.0,1e+18,0.0206,0.0206,0.0206,0.0206),
(-1.0,-0.8,-1e+18,9.0,0.0574,0.0574,0.0574,0.0574),
(-1.0,-0.8,9.0,11.0,0.0574,0.0502,0.0574,0.0502),
(-1.0,-0.8,11.0,13.5,0.0502,0.0423,0.0502,0.0423),
(-1.0,-0.8,13.5,16.5,0.0423,0.0355,0.0423,0.0355),
(-1.0,-0.8,16.5,19.5,0.0355,0.0311,0.0355,0.0311),
(-1.0,-0.8,19.5,22.5,0.0311,0.0274,0.0311,0.0274),
(-1.0,-0.8,22.5,26.0,0.0274,0.0247,0.0274,0.0247),
(-1.0,-0.8,26.0,30.0,0.0247,0.0234,0.0247,0.0234),
(-1.0,-0.8,30.0,34.5,0.0234,0.0214,0.0234,0.0214),
(-1.0,-0.8,34.5,40.0,0.0214,0.0195,0.0214,0.0195),
(-1.0,-0.8,40.0,46.0,0.0195,0.0175,0.0195,0.0175),
(-1.0,-0.8,46.0,52.5,0.0175,0.0162,0.0175,0.0162),
(-1.0,-0.8,52.5,60.0,0.0162,0.0151,0.0162,0.0151),
(-1.0,-0.8,60.0,69.0,0.0151,0.0141,0.0151,0.0141),
(-1.0,-0.8,69.0,79.0,0.0141,0.0132,0.0141,0.0132),
(-1.0,-0.8,79.0,90.5,0.0132,0.0123,0.0132,0.0123),
(-1.0,-0.8,90.5,105.5,0.0123,0.0115,0.0123,0.0115),
(-1.0,-0.8,105.5,123.5,0.0115,0.0108,0.0115,0.0108),
(-1.0,-0.8,123.5,143.0,0.0108,0.0101,0.0108,0.0101),
(-1.0,-0.8,143.0,163.5,0.0101,0.0096,0.0101,0.0096),
(-1.0,-0.8,163.5,185.0,0.0096,0.0091,0.0096,0.0091),
(-1.0,-0.8,185.0,208.0,0.0091,0.0087,0.0091,0.0087),
(-1.0,-0.8,208.0,232.5,0.0087,0.0083,0.0087,0.0083),
(-1.0,-0.8,232.5,258.5,0.0083,0.0079,0.0083,0.0079),
(-1.0,-0.8,258.5,286.0,0.0079,0.0076,0.0079,0.0076),
(-1.0,-0.8,286.0,331.0,0.0076,0.0071,0.0076,0.0071),
(-1.0,-0.8,331.0,396.0,0.0071,0.0065,0.0071,0.0065),
(-1.0,-0.8,396.0,468.5,0.0065,0.006,0.0065,0.006),
(-1.0,-0.8,468.5,549.5,0.006,0.0056,0.006,0.0056),
(-1.0,-0.8,549.5,639.0,0.0056,0.0054,0.0056,0.0054),
(-1.0,-0.8,639.0,738.0,0.0054,0.0054,0.0054,0.0054),
(-1.0,-0.8,738.0,847.5,0.0054,0.0056,0.0054,0.0056),
(-1.0,-0.8,847.5,968.5,0.0056,0.0059,0.0056,0.0059),
(-1.0,-0.8,968.5,1102.0,0.0059,0.0063,0.0059,0.0063),
(-1.0,-0.8,1102.0,1249.5,0.0063,0.0067,0.0063,0.0067),
(-1.0,-0.8,1249.5,1412.0,0.0067,0.0071,0.0067,0.0071),
(-1.0,-0.8,1412.0,1590.5,0.0071,0.0075,0.0071,0.0075),
(-1.0,-0.8,1590.5,1787.0,0.0075,0.008,0.0075,0.008),
(-1.0,-0.8,1787.0,2003.0,0.008,0.0085,0.008,0.0085),
(-1.0,-0.8,2003.0,2241.0,0.0085,0.009,0.0085,0.009),
(-1.0,-0.8,2241.0,2503.0,0.009,0.0095,0.009,0.0095),
(-1.0,-0.8,2503.0,2790.5,0.0095,0.01,0.0095,0.01),
(-1.0,-0.8,2790.5,3107.0,0.01,0.0106,0.01,0.0106),
(-1.0,-0.8,3107.0,3455.0,0.0106,0.0111,0.0106,0.0111),
(-1.0,-0.8,3455.0,3837.0,0.0111,0.0118,0.0111,0.0118),
(-1.0,-0.8,3837.0,4257.0,0.0118,0.0124,0.0118,0.0124),
(-1.0,-0.8,4257.0,4719.0,0.0124,0.0131,0.0124,0.0131),
(-1.0,-0.8,4719.0,5226.5,0.0131,0.0138,0.0131,0.0138),
(-1.0,-0.8,5226.5,5784.0,0.0138,0.0144,0.0138,0.0144),
(-1.0,-0.8,5784.0,6538.0,0.0144,0.0417,0.0144,0.0417),
(-1.0,-0.8,6538.0,1e+18,0.0417,0.0417,0.0417,0.0417),
(-0.8,-0.6,-1e+18,9.0,0.0549,0.0549,0.0549,0.0549),
(-0.8,-0.6,9.0,11.0,0.0549,0.0477,0.0549,0.0477),
(-0.8,-0.6,11.0,13.5,0.0477,0.0399,0.0477,0.0399),
(-0.8,-0.6,13.5,16.5,0.0399,0.0331,0.0399,0.0331),
(-0.8,-0.6,16.5,19.5,0.0331,0.0284,0.0331,0.0284),
(-0.8,-0.6,19.5,22.5,0.0284,0.0252,0.0284,0.0252),
(-0.8,-0.6,22.5,26.0,0.0252,0.0226,0.0252,0.0226),
(-0.8,-0.6,26.0,30.0,0.0226,0.0214,0.0226,0.0214),
(-0.8,-0.6,30.0,34.5,0.0214,0.0193,0.0214,0.0193),
(-0.8,-0.6,34.5,40.0,0.0193,0.017,0.0193,0.017),
(-0.8,-0.6,40.0,46.0,0.017,0.0156,0.017,0.0156),
(-0.8,-0.6,46.0,52.5,0.0156,0.0142,0.0156,0.0142),
(-0.8,-0.6,52.5,60.0,0.0142,0.0132,0.0142,0.0132),
(-0.8,-0.6,60.0,69.0,0.0132,0.0121,0.0132,0.0121),
(-0.8,-0.6,69.0,79.0,0.0121,0.0113,0.0121,0.0113),
(-0.8,-0.6,79.0,90.5,0.0113,0.0106,0.0113,0.0106),
(-0.8,-0.6,90.5,105.5,0.0106,0.0098,0.0106,0.0098),
(-0.8,-0.6,105.5,123.5,0.0098,0.0091,0.0098,0.0091),
(-0.8,-0.6,123.5,143.0,0.0091,0.0085,0.0091,0.0085),
(-0.8,-0.6,143.0,163.5,0.0085,0.008,0.0085,0.008),
(-0.8,-0.6,163.5,185.0,0.008,0.0076,0.008,0.0076),
(-0.8,-0.6,185.0,208.0,0.0076,0.0073,0.0076,0.0073),
(-0.8,-0.6,208.0,232.5,0.0073,0.0069,0.0073,0.0069),
(-0.8,-0.6,232.5,258.5,0.0069,0.0066,0.0069,0.0066),
(-0.8,-0.6,258.5,286.0,0.0066,0.0063,0.0066,0.0063),
(-0.8,-0.6,286.0,331.0,0.0063,0.0059,0.0063,0.0059),
(-0.8,-0.6,331.0,396.0,0.0059,0.0054,0.0059,0.0054),
(-0.8,-0.6,396.0,468.5,0.0054,0.0051,0.0054,0.0051),
(-0.8,-0.6,468.5,549.5,0.0051,0.0048,0.0051,0.0048),
(-0.8,-0.6,549.5,639.0,0.0048,0.0048,0.0048,0.0048),
(-0.8,-0.6,639.0,738.0,0.0048,0.0048,0.0048,0.0048),
(-0.8,-0.6,738.0,847.5,0.0048,0.0051,0.0048,0.0051),
(-0.8,-0.6,847.5,968.5,0.0051,0.0055,0.0051,0.0055),
(-0.8,-0.6,968.5,1102.0,0.0055,0.006,0.0055,0.006),
(-0.8,-0.6,1102.0,1249.5,0.006,0.0063,0.006,0.0063),
(-0.8,-0.6,1249.5,1412.0,0.0063,0.0067,0.0063,0.0067),
(-0.8,-0.6,1412.0,1590.5,0.0067,0.0071,0.0067,0.0071),
(-0.8,-0.6,1590.5,1787.0,0.0071,0.0075,0.0071,0.0075),
(-0.8,-0.6,1787.0,2003.0,0.0075,0.0079,0.0075,0.0079),
(-0.8,-0.6,2003.0,2241.0,0.0079,0.0083,0.0079,0.0083),
(-0.8,-0.6,2241.0,2503.0,0.0083,0.0088,0.0083,0.0088),
(-0.8,-0.6,2503.0,2790.5,0.0088,0.0092,0.0088,0.0092),
(-0.8,-0.6,2790.5,3107.0,0.0092,0.0096,0.0092,0.0096),
(-0.8,-0.6,3107.0,3455.0,0.0096,0.0101,0.0096,0.0101),
(-0.8,-0.6,3455.0,3837.0,0.0101,0.0106,0.0101,0.0106),
(-0.8,-0.6,3837.0,4257.0,0.0106,0.0112,0.0106,0.0112),
(-0.8,-0.6,4257.0,4719.0,0.0112,0.0118,0.0112,0.0118),
(-0.8,-0.6,4719.0,5226.5,0.0118,0.0123,0.0118,0.0123),
(-0.8,-0.6,5226.5,5784.0,0.0123,0.0128,0.0123,0.0128),
(-0.8,-0.6,5784.0,6538.0,0.0128,0.0147,0.0128,0.0147),
(-0.8,-0.6,6538.0,1e+18,0.0147,0.0147,0.0147,0.0147),
(-0.6,-0.4,-1e+18,9.0,0.0537,0.0537,0.0537,0.0537),
(-0.6,-0.4,9.0,11.0,0.0537,0.047,0.0537,0.047),
(-0.6,-0.4,11.0,13.5,0.047,0.0392,0.047,0.0392),
(-0.6,-0.4,13.5,16.5,0.0392,0.0326,0.0392,0.0326),
(-0.6,-0.4,16.5,19.5,0.0326,0.0285,0.0326,0.0285),
(-0.6,-0.4,19.5,22.5,0.0285,0.0252,0.0285,0.0252),
(-0.6,-0.4,22.5,26.0,0.0252,0.023,0.0252,0.023),
(-0.6,-0.4,26.0,30.0,0.023,0.0219,0.023,0.0219),
(-0.6,-0.4,30.0,34.5,0.0219,0.0196,0.0219,0.0196),
(-0.6,-0.4,34.5,40.0,0.0196,0.0177,0.0196,0.0177),
(-0.6,-0.4,40.0,46.0,0.0177,0.0161,0.0177,0.0161),
(-0.6,-0.4,46.0,52.5,0.0161,0.0148,0.0161,0.0148),
(-0.6,-0.4,52.5,60.0,0.0148,0.0137,0.0148,0.0137),
(-0.6,-0.4,60.0,69.0,0.0137,0.0127,0.0137,0.0127),
(-0.6,-0.4,69.0,79.0,0.0127,0.0118,0.0127,0.0118),
(-0.6,-0.4,79.0,90.5,0.0118,0.0109,0.0118,0.0109),
(-0.6,-0.4,90.5,105.5,0.0109,0.0101,0.0109,0.0101),
(-0.6,-0.4,105.5,123.5,0.0101,0.0094,0.0101,0.0094),
(-0.6,-0.4,123.5,143.0,0.0094,0.0087,0.0094,0.0087),
(-0.6,-0.4,143.0,163.5,0.0087,0.0082,0.0087,0.0082),
(-0.6,-0.4,163.5,185.0,0.0082,0.0077,0.0082,0.0077),
(-0.6,-0.4,185.0,208.0,0.0077,0.0073,0.0077,0.0073),
(-0.6,-0.4,208.0,232.5,0.0073,0.0069,0.0073,0.0069),
(-0.6,-0.4,232.5,258.5,0.0069,0.0066,0.0069,0.0066),
(-0.6,-0.4,258.5,286.0,0.0066,0.0063,0.0066,0.0063),
(-0.6,-0.4,286.0,331.0,0.0063,0.0059,0.0063,0.0059),
(-0.6,-0.4,331.0,396.0,0.0059,0.0054,0.0059,0.0054),
(-0.6,-0.4,396.0,468.5,0.0054,0.0051,0.0054,0.0051),
(-0.6,-0.4,468.5,549.5,0.0051,0.005,0.0051,0.005),
(-0.6,-0.4,549.5,639.0,0.005,0.005,0.005,0.005),
(-0.6,-0.4,639.0,738.0,0.005,0.0052,0.005,0.0052),
(-0.6,-0.4,738.0,847.5,0.0052,0.0055,0.0052,0.0055),
(-0.6,-0.4,847.5,968.5,0.0055,0.006,0.0055,0.006),
(-0.6,-0.4,968.5,1102.0,0.006,0.0065,0.006,0.0065),
(-0.6,-0.4,1102.0,1249.5,0.0065,0.0069,0.0065,0.0069),
(-0.6,-0.4,1249.5,1412.0,0.0069,0.0074,0.0069,0.0074),
(-0.6,-0.4,1412.0,1590.5,0.0074,0.0078,0.0074,0.0078),
(-0.6,-0.4,1590.5,1787.0,0.0078,0.0083,0.0078,0.0083),
(-0.6,-0.4,1787.0,2003.0,0.0083,0.0088,0.0083,0.0088),
(-0.6,-0.4,2003.0,2241.0,0.0088,0.0092,0.0088,0.0092),
(-0.6,-0.4,2241.0,2503.0,0.0092,0.0097,0.0092,0.0097),
(-0.6,-0.4,2503.0,2790.5,0.0097,0.0102,0.0097,0.0102),
(-0.6,-0.4,2790.5,3107.0,0.0102,0.0106,0.0102,0.0106),
(-0.6,-0.4,3107.0,3455.0,0.0106,0.0109,0.0106,0.0109),
(-0.6,-0.4,3455.0,3837.0,0.0109,0.0114,0.0109,0.0114),
(-0.6,-0.4,3837.0,4257.0,0.0114,0.0118,0.0114,0.0118),
(-0.6,-0.4,4257.0,4719.0,0.0118,0.0123,0.0118,0.0123),
(-0.6,-0.4,4719.0,5226.5,0.0123,0.0127,0.0123,0.0127),
(-0.6,-0.4,5226.5,5784.0,0.0127,0.0132,0.0127,0.0132),
(-0.6,-0.4,5784.0,6538.0,0.0132,0.0305,0.0132,0.0305),
(-0.6,-0.4,6538.0,1e+18,0.0305,0.0305,0.0305,0.0305),
(-0.4,-0.2,-1e+18,9.0,0.0543,0.0543,0.0543,0.0543),
(-0.4,-0.2,9.0,11.0,0.0543,0.0473,0.0543,0.0473),
(-0.4,-0.2,11.0,13.5,0.0473,0.04,0.0473,0.04),
(-0.4,-0.2,13.5,16.5,0.04,0.0326,0.04,0.0326),
(-0.4,-0.2,16.5,19.5,0.0326,0.0284,0.0326,0.0284),
(-0.4,-0.2,19.5,22.5,0.0284,0.0253,0.0284,0.0253),
(-0.4,-0.2,22.5,26.0,0.0253,0.023,0.0253,0.023),
(-0.4,-0.2,26.0,30.0,0.023,0.022,0.023,0.022),
(-0.4,-0.2,30.0,34.5,0.022,0.0196,0.022,0.0196),
(-0.4,-0.2,34.5,40.0,0.0196,0.0178,0.0196,0.0178),
(-0.4,-0.2,40.0,46.0,0.0178,0.0161,0.0178,0.0161),
(-0.4,-0.2,46.0,52.5,0.0161,0.0149,0.0161,0.0149),
(-0.4,-0.2,52.5,60.0,0.0149,0.0138,0.0149,0.0138),
(-0.4,-0.2,60.0,69.0,0.0138,0.0127,0.0138,0.0127),
(-0.4,-0.2,69.0,79.0,0.0127,0.0118,0.0127,0.0118),
(-0.4,-0.2,79.0,90.5,0.0118,0.011,0.0118,0.011),
(-0.4,-0.2,90.5,105.5,0.011,0.0101,0.011,0.0101),
(-0.4,-0.2,105.5,123.5,0.0101,0.0094,0.0101,0.0094),
(-0.4,-0.2,123.5,143.0,0.0094,0.0087,0.0094,0.0087),
(-0.4,-0.2,143.0,163.5,0.0087,0.0082,0.0087,0.0082),
(-0.4,-0.2,163.5,185.0,0.0082,0.0077,0.0082,0.0077),
(-0.4,-0.2,185.0,208.0,0.0077,0.0073,0.0077,0.0073),
(-0.4,-0.2,208.0,232.5,0.0073,0.0069,0.0073,0.0069),
(-0.4,-0.2,232.5,258.5,0.0069,0.0066,0.0069,0.0066),
(-0.4,-0.2,258.5,286.0,0.0066,0.0062,0.0066,0.0062),
(-0.4,-0.2,286.0,331.0,0.0062,0.0058,0.0062,0.0058),
(-0.4,-0.2,331.0,396.0,0.0058,0.0054,0.0058,0.0054),
(-0.4,-0.2,396.0,468.5,0.0054,0.0051,0.0054,0.0051),
(-0.4,-0.2,468.5,549.5,0.0051,0.005,0.0051,0.005),
(-0.4,-0.2,549.5,639.0,0.005,0.005,0.005,0.005),
(-0.4,-0.2,639.0,738.0,0.005,0.0052,0.005,0.0052),
(-0.4,-0.2,738.0,847.5,0.0052,0.0055,0.0052,0.0055),
(-0.4,-0.2,847.5,968.5,0.0055,0.0059,0.0055,0.0059),
(-0.4,-0.2,968.5,1102.0,0.0059,0.0065,0.0059,0.0065),
(-0.4,-0.2,1102.0,1249.5,0.0065,0.0069,0.0065,0.0069),
(-0.4,-0.2,1249.5,1412.0,0.0069,0.0073,0.0069,0.0073),
(-0.4,-0.2,1412.0,1590.5,0.0073,0.0078,0.0073,0.0078),
(-0.4,-0.2,1590.5,1787.0,0.0078,0.0082,0.0078,0.0082),
(-0.4,-0.2,1787.0,2003.0,0.0082,0.0087,0.0082,0.0087),
(-0.4,-0.2,2003.0,2241.0,0.0087,0.0091,0.0087,0.0091),
(-0.4,-0.2,2241.0,2503.0,0.0091,0.0095,0.0091,0.0095),
(-0.4,-0.2,2503.0,2790.5,0.0095,0.01,0.0095,0.01),
(-0.4,-0.2,2790.5,3107.0,0.01,0.0103,0.01,0.0103),
(-0.4,-0.2,3107.0,3455.0,0.0103,0.0107,0.0103,0.0107),
(-0.4,-0.2,3455.0,3837.0,0.0107,0.0111,0.0107,0.0111),
(-0.4,-0.2,3837.0,4257.0,0.0111,0.0115,0.0111,0.0115),
(-0.4,-0.2,4257.0,4719.0,0.0115,0.0119,0.0115,0.0119),
(-0.4,-0.2,4719.0,5226.5,0.0119,0.0124,0.0119,0.0124),
(-0.4,-0.2,5226.5,5784.0,0.0124,0.0128,0.0124,0.0128),
(-0.4,-0.2,5784.0,6538.0,0.0128,0.014,0.0128,0.014),
(-0.4,-0.2,6538.0,1e+18,0.014,0.014,0.014,0.014),
(-0.2,0.0,-1e+18,9.0,0.0549,0.0549,0.0549,0.0549),
(-0.2,0.0,9.0,11.0,0.0549,0.0473,0.0549,0.0473),
(-0.2,0.0,11.0,13.5,0.0473,0.0397,0.0473,0.0397),
(-0.2,0.0,13.5,16.5,0.0397,0.0331,0.0397,0.0331),
(-0.2,0.0,16.5,19.5,0.0331,0.0288,0.0331,0.0288),
(-0.2,0.0,19.5,22.5,0.0288,0.0256,0.0288,0.0256),
(-0.2,0.0,22.5,26.0,0.0256,0.0234,0.0256,0.0234),
(-0.2,0.0,26.0,30.0,0.0234,0.0221,0.0234,0.0221),
(-0.2,0.0,30.0,34.5,0.0221,0.0199,0.0221,0.0199),
(-0.2,0.0,34.5,40.0,0.0199,0.0179,0.0199,0.0179),
(-0.2,0.0,40.0,46.0,0.0179,0.0164,0.0179,0.0164),
(-0.2,0.0,46.0,52.5,0.0164,0.0151,0.0164,0.0151),
(-0.2,0.0,52.5,60.0,0.0151,0.014,0.0151,0.014),
(-0.2,0.0,60.0,69.0,0.014,0.0129,0.014,0.0129),
(-0.2,0.0,69.0,79.0,0.0129,0.012,0.0129,0.012),
(-0.2,0.0,79.0,90.5,0.012,0.0111,0.012,0.0111),
(-0.2,0.0,90.5,105.5,0.0111,0.0103,0.0111,0.0103),
(-0.2,0.0,105.5,123.5,0.0103,0.0095,0.0103,0.0095),
(-0.2,0.0,123.5,143.0,0.0095,0.0088,0.0095,0.0088),
(-0.2,0.0,143.0,163.5,0.0088,0.0082,0.0088,0.0082),
(-0.2,0.0,163.5,185.0,0.0082,0.0077,0.0082,0.0077),
(-0.2,0.0,185.0,208.0,0.0077,0.0073,0.0077,0.0073),
(-0.2,0.0,208.0,232.5,0.0073,0.0069,0.0073,0.0069),
(-0.2,0.0,232.5,258.5,0.0069,0.0065,0.0069,0.0065),
(-0.2,0.0,258.5,286.0,0.0065,0.0062,0.0065,0.0062),
(-0.2,0.0,286.0,331.0,0.0062,0.0058,0.0062,0.0058),
(-0.2,0.0,331.0,396.0,0.0058,0.0053,0.0058,0.0053),
(-0.2,0.0,396.0,468.5,0.0053,0.005,0.0053,0.005),
(-0.2,0.0,468.5,549.5,0.005,0.0049,0.005,0.0049),
(-0.2,0.0,549.5,639.0,0.0049,0.0049,0.0049,0.0049),
(-0.2,0.0,639.0,738.0,0.0049,0.0051,0.0049,0.0051),
(-0.2,0.0,738.0,847.5,0.0051,0.0054,0.0051,0.0054),
(-0.2,0.0,847.5,968.5,0.0054,0.0058,0.0054,0.0058),
(-0.2,0.0,968.5,1102.0,0.0058,0.0064,0.0058,0.0064),
(-0.2,0.0,1102.0,1249.5,0.0064,0.0068,0.0064,0.0068),
(-0.2,0.0,1249.5,1412.0,0.0068,0.0072,0.0068,0.0072),
(-0.2,0.0,1412.0,1590.5,0.0072,0.0076,0.0072,0.0076),
(-0.2,0.0,1590.5,1787.0,0.0076,0.008,0.0076,0.008),
(-0.2,0.0,1787.0,2003.0,0.008,0.0085,0.008,0.0085),
(-0.2,0.0,2003.0,2241.0,0.0085,0.0089,0.0085,0.0089),
(-0.2,0.0,2241.0,2503.0,0.0089,0.0093,0.0089,0.0093),
(-0.2,0.0,2503.0,2790.5,0.0093,0.0097,0.0093,0.0097),
(-0.2,0.0,2790.5,3107.0,0.0097,0.0101,0.0097,0.0101),
(-0.2,0.0,3107.0,3455.0,0.0101,0.0104,0.0101,0.0104),
(-0.2,0.0,3455.0,3837.0,0.0104,0.0109,0.0104,0.0109),
(-0.2,0.0,3837.0,4257.0,0.0109,0.0113,0.0109,0.0113),
(-0.2,0.0,4257.0,4719.0,0.0113,0.0117,0.0113,0.0117),
(-0.2,0.0,4719.0,5226.5,0.0117,0.0122,0.0117,0.0122),
(-0.2,0.0,5226.5,5784.0,0.0122,0.0126,0.0122,0.0126),
(-0.2,0.0,5784.0,6538.0,0.0126,0.0246,0.0126,0.0246),
(-0.2,0.0,6538.0,1e+18,0.0246,0.0246,0.0246,0.0246),
(0.0,0.2,-1e+18,9.0,0.0549,0.0549,0.0549,0.0549),
(0.0,0.2,9.0,11.0,0.0549,0.0477,0.0549,0.0477),
(0.0,0.2,11.0,13.5,0.0477,0.0407,0.0477,0.0407),
(0.0,0.2,13.5,16.5,0.0407,0.0332,0.0407,0.0332),
(0.0,0.2,16.5,19.5,0.0332,0.0287,0.0332,0.0287),
(0.0,0.2,19.5,22.5,0.0287,0.0257,0.0287,0.0257),
(0.0,0.2,22.5,26.0,0.0257,0.0234,0.0257,0.0234),
(0.0,0.2,26.0,30.0,0.0234,0.0222,0.0234,0.0222),
(0.0,0.2,30.0,34.5,0.0222,0.02,0.0222,0.02),
(0.0,0.2,34.5,40.0,0.02,0.0179,0.02,0.0179),
(0.0,0.2,40.0,46.0,0.0179,0.0164,0.0179,0.0164),
(0.0,0.2,46.0,52.5,0.0164,0.0151,0.0164,0.0151),
(0.0,0.2,52.5,60.0,0.0151,0.014,0.0151,0.014),
(0.0,0.2,60.0,69.0,0.014,0.0129,0.014,0.0129),
(0.0,0.2,69.0,79.0,0.0129,0.012,0.0129,0.012),
(0.0,0.2,79.0,90.5,0.012,0.0111,0.012,0.0111),
(0.0,0.2,90.5,105.5,0.0111,0.0103,0.0111,0.0103),
(0.0,0.2,105.5,123.5,0.0103,0.0094,0.0103,0.0094),
(0.0,0.2,123.5,143.0,0.0094,0.0088,0.0094,0.0088),
(0.0,0.2,143.0,163.5,0.0088,0.0082,0.0088,0.0082),
(0.0,0.2,163.5,185.0,0.0082,0.0077,0.0082,0.0077),
(0.0,0.2,185.0,208.0,0.0077,0.0073,0.0077,0.0073),
(0.0,0.2,208.0,232.5,0.0073,0.0069,0.0073,0.0069),
(0.0,0.2,232.5,258.5,0.0069,0.0065,0.0069,0.0065),
(0.0,0.2,258.5,286.0,0.0065,0.0062,0.0065,0.0062),
(0.0,0.2,286.0,331.0,0.0062,0.0058,0.0062,0.0058),
(0.0,0.2,331.0,396.0,0.0058,0.0053,0.0058,0.0053),
(0.0,0.2,396.0,468.5,0.0053,0.005,0.0053,0.005),
(0.0,0.2,468.5,549.5,0.005,0.0049,0.005,0.0049),
(0.0,0.2,549.5,639.0,0.0049,0.0049,0.0049,0.0049),
(0.0,0.2,639.0,738.0,0.0049,0.0051,0.0049,0.0051),
(0.0,0.2,738.0,847.5,0.0051,0.0054,0.0051,0.0054),
(0.0,0.2,847.5,968.5,0.0054,0.0058,0.0054,0.0058),
(0.0,0.2,968.5,1102.0,0.0058,0.0064,0.0058,0.0064),
(0.0,0.2,1102.0,1249.5,0.0064,0.0068,0.0064,0.0068),
(0.0,0.2,1249.5,1412.0,0.0068,0.0072,0.0068,0.0072),
(0.0,0.2,1412.0,1590.5,0.0072,0.0076,0.0072,0.0076),
(0.0,0.2,1590.5,1787.0,0.0076,0.0081,0.0076,0.0081),
(0.0,0.2,1787.0,2003.0,0.0081,0.0085,0.0081,0.0085),
(0.0,0.2,2003.0,2241.0,0.0085,0.0089,0.0085,0.0089),
(0.0,0.2,2241.0,2503.0,0.0089,0.0093,0.0089,0.0093),
(0.0,0.2,2503.0,2790.5,0.0093,0.0098,0.0093,0.0098),
(0.0,0.2,2790.5,3107.0,0.0098,0.0101,0.0098,0.0101),
(0.0,0.2,3107.0,3455.0,0.0101,0.0105,0.0101,0.0105),
(0.0,0.2,3455.0,3837.0,0.0105,0.0109,0.0105,0.0109),
(0.0,0.2,3837.0,4257.0,0.0109,0.0114,0.0109,0.0114),
(0.0,0.2,4257.0,4719.0,0.0114,0.0118,0.0114,0.0118),
(0.0,0.2,4719.0,5226.5,0.0118,0.0122,0.0118,0.0122),
(0.0,0.2,5226.5,5784.0,0.0122,0.0127,0.0122,0.0127),
(0.0,0.2,5784.0,6538.0,0.0127,0.0309,0.0127,0.0309),
(0.0,0.2,6538.0,1e+18,0.0309,0.0309,0.0309,0.0309),
(0.2,0.4,-1e+18,9.0,0.0546,0.0546,0.0546,0.0546),
(0.2,0.4,9.0,11.0,0.0546,0.0475,0.0546,0.0475),
(0.2,0.4,11.0,13.5,0.0475,0.0399,0.0475,0.0399),
(0.2,0.4,13.5,16.5,0.0399,0.033,0.0399,0.033),
(0.2,0.4,16.5,19.5,0.033,0.0284,0.033,0.0284),
(0.2,0.4,19.5,22.5,0.0284,0.0254,0.0284,0.0254),
(0.2,0.4,22.5,26.0,0.0254,0.0234,0.0254,0.0234),
(0.2,0.4,26.0,30.0,0.0234,0.0218,0.0234,0.0218),
(0.2,0.4,30.0,34.5,0.0218,0.0197,0.0218,0.0197),
(0.2,0.4,34.5,40.0,0.0197,0.0178,0.0197,0.0178),
(0.2,0.4,40.0,46.0,0.0178,0.0163,0.0178,0.0163),
(0.2,0.4,46.0,52.5,0.0163,0.0149,0.0163,0.0149),
(0.2,0.4,52.5,60.0,0.0149,0.0138,0.0149,0.0138),
(0.2,0.4,60.0,69.0,0.0138,0.0128,0.0138,0.0128),
(0.2,0.4,69.0,79.0,0.0128,0.0119,0.0128,0.0119),
(0.2,0.4,79.0,90.5,0.0119,0.011,0.0119,0.011),
(0.2,0.4,90.5,105.5,0.011,0.0102,0.011,0.0102),
(0.2,0.4,105.5,123.5,0.0102,0.0094,0.0102,0.0094),
(0.2,0.4,123.5,143.0,0.0094,0.0087,0.0094,0.0087),
(0.2,0.4,143.0,163.5,0.0087,0.0082,0.0087,0.0082),
(0.2,0.4,163.5,185.0,0.0082,0.0077,0.0082,0.0077),
(0.2,0.4,185.0,208.0,0.0077,0.0073,0.0077,0.0073),
(0.2,0.4,208.0,232.5,0.0073,0.0069,0.0073,0.0069),
(0.2,0.4,232.5,258.5,0.0069,0.0066,0.0069,0.0066),
(0.2,0.4,258.5,286.0,0.0066,0.0062,0.0066,0.0062),
(0.2,0.4,286.0,331.0,0.0062,0.0058,0.0062,0.0058),
(0.2,0.4,331.0,396.0,0.0058,0.0054,0.0058,0.0054),
(0.2,0.4,396.0,468.5,0.0054,0.0051,0.0054,0.0051),
(0.2,0.4,468.5,549.5,0.0051,0.005,0.0051,0.005),
(0.2,0.4,549.5,639.0,0.005,0.005,0.005,0.005),
(0.2,0.4,639.0,738.0,0.005,0.0052,0.005,0.0052),
(0.2,0.4,738.0,847.5,0.0052,0.0055,0.0052,0.0055),
(0.2,0.4,847.5,968.5,0.0055,0.0059,0.0055,0.0059),
(0.2,0.4,968.5,1102.0,0.0059,0.0065,0.0059,0.0065),
(0.2,0.4,1102.0,1249.5,0.0065,0.0069,0.0065,0.0069),
(0.2,0.4,1249.5,1412.0,0.0069,0.0073,0.0069,0.0073),
(0.2,0.4,1412.0,1590.5,0.0073,0.0077,0.0073,0.0077),
(0.2,0.4,1590.5,1787.0,0.0077,0.0081,0.0077,0.0081),
(0.2,0.4,1787.0,2003.0,0.0081,0.0086,0.0081,0.0086),
(0.2,0.4,2003.0,2241.0,0.0086,0.009,0.0086,0.009),
(0.2,0.4,2241.0,2503.0,0.009,0.0094,0.009,0.0094),
(0.2,0.4,2503.0,2790.5,0.0094,0.0098,0.0094,0.0098),
(0.2,0.4,2790.5,3107.0,0.0098,0.0102,0.0098,0.0102),
(0.2,0.4,3107.0,3455.0,0.0102,0.0105,0.0102,0.0105),
(0.2,0.4,3455.0,3837.0,0.0105,0.0109,0.0105,0.0109),
(0.2,0.4,3837.0,4257.0,0.0109,0.0113,0.0109,0.0113),
(0.2,0.4,4257.0,4719.0,0.0113,0.0117,0.0113,0.0117),
(0.2,0.4,4719.0,5226.5,0.0117,0.0121,0.0117,0.0121),
(0.2,0.4,5226.5,5784.0,0.0121,0.0125,0.0121,0.0125),
(0.2,0.4,5784.0,6538.0,0.0125,0.0251,0.0125,0.0251),
(0.2,0.4,6538.0,1e+18,0.0251,0.0251,0.0251,0.0251),
(0.4,0.6,-1e+18,9.0,0.0538,0.0538,0.0538,0.0538),
(0.4,0.6,9.0,11.0,0.0538,0.0477,0.0538,0.0477),
(0.4,0.6,11.0,13.5,0.0477,0.0391,0.0477,0.0391),
(0.4,0.6,13.5,16.5,0.0391,0.0329,0.0391,0.0329),
(0.4,0.6,16.5,19.5,0.0329,0.0284,0.0329,0.0284),
(0.4,0.6,19.5,22.5,0.0284,0.0257,0.0284,0.0257),
(0.4,0.6,22.5,26.0,0.0257,0.0231,0.0257,0.0231),
(0.4,0.6,26.0,30.0,0.0231,0.0219,0.0231,0.0219),
(0.4,0.6,30.0,34.5,0.0219,0.0198,0.0219,0.0198),
(0.4,0.6,34.5,40.0,0.0198,0.0177,0.0198,0.0177),
(0.4,0.6,40.0,46.0,0.0177,0.0161,0.0177,0.0161),
(0.4,0.6,46.0,52.5,0.0161,0.0149,0.0161,0.0149),
(0.4,0.6,52.5,60.0,0.0149,0.0138,0.0149,0.0138),
(0.4,0.6,60.0,69.0,0.0138,0.0127,0.0138,0.0127),
(0.4,0.6,69.0,79.0,0.0127,0.0118,0.0127,0.0118),
(0.4,0.6,79.0,90.5,0.0118,0.011,0.0118,0.011),
(0.4,0.6,90.5,105.5,0.011,0.0101,0.011,0.0101),
(0.4,0.6,105.5,123.5,0.0101,0.0094,0.0101,0.0094),
(0.4,0.6,123.5,143.0,0.0094,0.0087,0.0094,0.0087),
(0.4,0.6,143.0,163.5,0.0087,0.0082,0.0087,0.0082),
(0.4,0.6,163.5,185.0,0.0082,0.0077,0.0082,0.0077),
(0.4,0.6,185.0,208.0,0.0077,0.0073,0.0077,0.0073),
(0.4,0.6,208.0,232.5,0.0073,0.0069,0.0073,0.0069),
(0.4,0.6,232.5,258.5,0.0069,0.0066,0.0069,0.0066),
(0.4,0.6,258.5,286.0,0.0066,0.0063,0.0066,0.0063),
(0.4,0.6,286.0,331.0,0.0063,0.0059,0.0063,0.0059),
(0.4,0.6,331.0,396.0,0.0059,0.0054,0.0059,0.0054),
(0.4,0.6,396.0,468.5,0.0054,0.0051,0.0054,0.0051),
(0.4,0.6,468.5,549.5,0.0051,0.005,0.0051,0.005),
(0.4,0.6,549.5,639.0,0.005,0.005,0.005,0.005),
(0.4,0.6,639.0,738.0,0.005,0.0052,0.005,0.0052),
(0.4,0.6,738.0,847.5,0.0052,0.0055,0.0052,0.0055),
(0.4,0.6,847.5,968.5,0.0055,0.006,0.0055,0.006),
(0.4,0.6,968.5,1102.0,0.006,0.0065,0.006,0.0065),
(0.4,0.6,1102.0,1249.5,0.0065,0.0069,0.0065,0.0069),
(0.4,0.6,1249.5,1412.0,0.0069,0.0074,0.0069,0.0074),
(0.4,0.6,1412.0,1590.5,0.0074,0.0078,0.0074,0.0078),
(0.4,0.6,1590.5,1787.0,0.0078,0.0083,0.0078,0.0083),
(0.4,0.6,1787.0,2003.0,0.0083,0.0088,0.0083,0.0088),
(0.4,0.6,2003.0,2241.0,0.0088,0.0092,0.0088,0.0092),
(0.4,0.6,2241.0,2503.0,0.0092,0.0097,0.0092,0.0097),
(0.4,0.6,2503.0,2790.5,0.0097,0.0101,0.0097,0.0101),
(0.4,0.6,2790.5,3107.0,0.0101,0.0105,0.0101,0.0105),
(0.4,0.6,3107.0,3455.0,0.0105,0.0109,0.0105,0.0109),
(0.4,0.6,3455.0,3837.0,0.0109,0.0113,0.0109,0.0113),
(0.4,0.6,3837.0,4257.0,0.0113,0.0118,0.0113,0.0118),
(0.4,0.6,4257.0,4719.0,0.0118,0.0122,0.0118,0.0122),
(0.4,0.6,4719.0,5226.5,0.0122,0.0127,0.0122,0.0127),
(0.4,0.6,5226.5,5784.0,0.0127,0.0131,0.0127,0.0131),
(0.4,0.6,5784.0,6538.0,0.0131,0.0144,0.0131,0.0144),
(0.4,0.6,6538.0,1e+18,0.0144,0.0144,0.0144,0.0144),
(0.6,0.8,-1e+18,9.0,0.0549,0.0549,0.0549,0.0549),
(0.6,0.8,9.0,11.0,0.0549,0.0479,0.0549,0.0479),
(0.6,0.8,11.0,13.5,0.0479,0.0394,0.0479,0.0394),
(0.6,0.8,13.5,16.5,0.0394,0.0332,0.0394,0.0332),
(0.6,0.8,16.5,19.5,0.0332,0.0284,0.0332,0.0284),
(0.6,0.8,19.5,22.5,0.0284,0.0253,0.0284,0.0253),
(0.6,0.8,22.5,26.0,0.0253,0.0228,0.0253,0.0228),
(0.6,0.8,26.0,30.0,0.0228,0.0215,0.0228,0.0215),
(0.6,0.8,30.0,34.5,0.0215,0.0192,0.0215,0.0192),
(0.6,0.8,34.5,40.0,0.0192,0.0173,0.0192,0.0173),
(0.6,0.8,40.0,46.0,0.0173,0.0156,0.0173,0.0156),
(0.6,0.8,46.0,52.5,0.0156,0.0142,0.0156,0.0142),
(0.6,0.8,52.5,60.0,0.0142,0.0132,0.0142,0.0132),
(0.6,0.8,60.0,69.0,0.0132,0.0122,0.0132,0.0122),
(0.6,0.8,69.0,79.0,0.0122,0.0114,0.0122,0.0114),
(0.6,0.8,79.0,90.5,0.0114,0.0105,0.0114,0.0105),
(0.6,0.8,90.5,105.5,0.0105,0.0098,0.0105,0.0098),
(0.6,0.8,105.5,123.5,0.0098,0.0091,0.0098,0.0091),
(0.6,0.8,123.5,143.0,0.0091,0.0085,0.0091,0.0085),
(0.6,0.8,143.0,163.5,0.0085,0.008,0.0085,0.008),
(0.6,0.8,163.5,185.0,0.008,0.0076,0.008,0.0076),
(0.6,0.8,185.0,208.0,0.0076,0.0073,0.0076,0.0073),
(0.6,0.8,208.0,232.5,0.0073,0.0069,0.0073,0.0069),
(0.6,0.8,232.5,258.5,0.0069,0.0066,0.0069,0.0066),
(0.6,0.8,258.5,286.0,0.0066,0.0063,0.0066,0.0063),
(0.6,0.8,286.0,331.0,0.0063,0.0059,0.0063,0.0059),
(0.6,0.8,331.0,396.0,0.0059,0.0054,0.0059,0.0054),
(0.6,0.8,396.0,468.5,0.0054,0.0051,0.0054,0.0051),
(0.6,0.8,468.5,549.5,0.0051,0.0048,0.0051,0.0048),
(0.6,0.8,549.5,639.0,0.0048,0.0048,0.0048,0.0048),
(0.6,0.8,639.0,738.0,0.0048,0.0048,0.0048,0.0048),
(0.6,0.8,738.0,847.5,0.0048,0.0051,0.0048,0.0051),
(0.6,0.8,847.5,968.5,0.0051,0.0055,0.0051,0.0055),
(0.6,0.8,968.5,1102.0,0.0055,0.006,0.0055,0.006),
(0.6,0.8,1102.0,1249.5,0.006,0.0063,0.006,0.0063),
(0.6,0.8,1249.5,1412.0,0.0063,0.0066,0.0063,0.0066),
(0.6,0.8,1412.0,1590.5,0.0066,0.007,0.0066,0.007),
(0.6,0.8,1590.5,1787.0,0.007,0.0075,0.007,0.0075),
(0.6,0.8,1787.0,2003.0,0.0075,0.0079,0.0075,0.0079),
(0.6,0.8,2003.0,2241.0,0.0079,0.0083,0.0079,0.0083),
(0.6,0.8,2241.0,2503.0,0.0083,0.0087,0.0083,0.0087),
(0.6,0.8,2503.0,2790.5,0.0087,0.0092,0.0087,0.0092),
(0.6,0.8,2790.5,3107.0,0.0092,0.0096,0.0092,0.0096),
(0.6,0.8,3107.0,3455.0,0.0096,0.01,0.0096,0.01),
(0.6,0.8,3455.0,3837.0,0.01,0.0106,0.01,0.0106),
(0.6,0.8,3837.0,4257.0,0.0106,0.0111,0.0106,0.0111),
(0.6,0.8,4257.0,4719.0,0.0111,0.0117,0.0111,0.0117),
(0.6,0.8,4719.0,5226.5,0.0117,0.0122,0.0117,0.0122),
(0.6,0.8,5226.5,5784.0,0.0122,0.0128,0.0122,0.0128),
(0.6,0.8,5784.0,6538.0,0.0128,0.0293,0.0128,0.0293),
(0.6,0.8,6538.0,1e+18,0.0293,0.0293,0.0293,0.0293),
(0.8,1.0,-1e+18,9.0,0.0599,0.0599,0.0599,0.0599),
(0.8,1.0,9.0,11.0,0.0599,0.052,0.0599,0.052),
(0.8,1.0,11.0,13.5,0.052,0.0435,0.052,0.0435),
(0.8,1.0,13.5,16.5,0.0435,0.0368,0.0435,0.0368),
(0.8,1.0,16.5,19.5,0.0368,0.0319,0.0368,0.0319),
(0.8,1.0,19.5,22.5,0.0319,0.028,0.0319,0.028),
(0.8,1.0,22.5,26.0,0.028,0.025,0.028,0.025),
(0.8,1.0,26.0,30.0,0.025,0.0238,0.025,0.0238),
(0.8,1.0,30.0,34.5,0.0238,0.0217,0.0238,0.0217),
(0.8,1.0,34.5,40.0,0.0217,0.0191,0.0217,0.0191),
(0.8,1.0,40.0,46.0,0.0191,0.0177,0.0191,0.0177),
(0.8,1.0,46.0,52.5,0.0177,0.0164,0.0177,0.0164),
(0.8,1.0,52.5,60.0,0.0164,0.0152,0.0164,0.0152),
(0.8,1.0,60.0,69.0,0.0152,0.014,0.0152,0.014),
(0.8,1.0,69.0,79.0,0.014,0.0131,0.014,0.0131),
(0.8,1.0,79.0,90.5,0.0131,0.0123,0.0131,0.0123),
(0.8,1.0,90.5,105.5,0.0123,0.0115,0.0123,0.0115),
(0.8,1.0,105.5,123.5,0.0115,0.0108,0.0115,0.0108),
(0.8,1.0,123.5,143.0,0.0108,0.0101,0.0108,0.0101),
(0.8,1.0,143.0,163.5,0.0101,0.0096,0.0101,0.0096),
(0.8,1.0,163.5,185.0,0.0096,0.0091,0.0096,0.0091),
(0.8,1.0,185.0,208.0,0.0091,0.0087,0.0091,0.0087),
(0.8,1.0,208.0,232.5,0.0087,0.0083,0.0087,0.0083),
(0.8,1.0,232.5,258.5,0.0083,0.0079,0.0083,0.0079),
(0.8,1.0,258.5,286.0,0.0079,0.0076,0.0079,0.0076),
(0.8,1.0,286.0,331.0,0.0076,0.0071,0.0076,0.0071),
(0.8,1.0,331.0,396.0,0.0071,0.0065,0.0071,0.0065),
(0.8,1.0,396.0,468.5,0.0065,0.006,0.0065,0.006),
(0.8,1.0,468.5,549.5,0.006,0.0056,0.006,0.0056),
(0.8,1.0,549.5,639.0,0.0056,0.0054,0.0056,0.0054),
(0.8,1.0,639.0,738.0,0.0054,0.0054,0.0054,0.0054),
(0.8,1.0,738.0,847.5,0.0054,0.0056,0.0054,0.0056),
(0.8,1.0,847.5,968.5,0.0056,0.0059,0.0056,0.0059),
(0.8,1.0,968.5,1102.0,0.0059,0.0064,0.0059,0.0064),
(0.8,1.0,1102.0,1249.5,0.0064,0.0067,0.0064,0.0067),
(0.8,1.0,1249.5,1412.0,0.0067,0.0071,0.0067,0.0071),
(0.8,1.0,1412.0,1590.5,0.0071,0.0075,0.0071,0.0075),
(0.8,1.0,1590.5,1787.0,0.0075,0.008,0.0075,0.008),
(0.8,1.0,1787.0,2003.0,0.008,0.0085,0.008,0.0085),
(0.8,1.0,2003.0,2241.0,0.0085,0.009,0.0085,0.009),
(0.8,1.0,2241.0,2503.0,0.009,0.0095,0.009,0.0095),
(0.8,1.0,2503.0,2790.5,0.0095,0.0101,0.0095,0.0101),
(0.8,1.0,2790.5,3107.0,0.0101,0.0106,0.0101,0.0106),
(0.8,1.0,3107.0,3455.0,0.0106,0.0112,0.0106,0.0112),
(0.8,1.0,3455.0,3837.0,0.0112,0.0118,0.0112,0.0118),
(0.8,1.0,3837.0,4257.0,0.0118,0.0125,0.0118,0.0125),
(0.8,1.0,4257.0,4719.0,0.0125,0.0132,0.0125,0.0132),
(0.8,1.0,4719.0,5226.5,0.0132,0.0139,0.0132,0.0139),
(0.8,1.0,5226.5,5784.0,0.0139,0.0145,0.0139,0.0145),
(0.8,1.0,5784.0,6538.0,0.0145,0.03,0.0145,0.03),
(0.8,1.0,6538.0,1e+18,0.03,0.03,0.03,0.03),
(1.0,1.2,-1e+18,9.0,0.0686,0.0686,0.0686,0.0686),
(1.0,1.2,9.0,11.0,0.0686,0.0609,0.0686,0.0609),
(1.0,1.2,11.0,13.5,0.0609,0.0516,0.0609,0.0516),
(1.0,1.2,13.5,16.5,0.0516,0.0442,0.0516,0.0442),
(1.0,1.2,16.5,19.5,0.0442,0.0386,0.0442,0.0386),
(1.0,1.2,19.5,22.5,0.0386,0.0346,0.0386,0.0346),
(1.0,1.2,22.5,26.0,0.0346,0.0311,0.0346,0.0311),
(1.0,1.2,26.0,30.0,0.0311,0.0293,0.0311,0.0293),
(1.0,1.2,30.0,34.5,0.0293,0.0267,0.0293,0.0267),
(1.0,1.2,34.5,40.0,0.0267,0.0244,0.0267,0.0244),
(1.0,1.2,40.0,46.0,0.0244,0.0224,0.0244,0.0224),
(1.0,1.2,46.0,52.5,0.0224,0.0207,0.0224,0.0207),
(1.0,1.2,52.5,60.0,0.0207,0.0193,0.0207,0.0193),
(1.0,1.2,60.0,69.0,0.0193,0.0179,0.0193,0.0179),
(1.0,1.2,69.0,79.0,0.0179,0.0166,0.0179,0.0166),
(1.0,1.2,79.0,90.5,0.0166,0.0155,0.0166,0.0155),
(1.0,1.2,90.5,105.5,0.0155,0.0143,0.0155,0.0143),
(1.0,1.2,105.5,123.5,0.0143,0.0132,0.0143,0.0132),
(1.0,1.2,123.5,143.0,0.0132,0.0122,0.0132,0.0122),
(1.0,1.2,143.0,163.5,0.0122,0.0114,0.0122,0.0114),
(1.0,1.2,163.5,185.0,0.0114,0.0106,0.0114,0.0106),
(1.0,1.2,185.0,208.0,0.0106,0.01,0.0106,0.01),
(1.0,1.2,208.0,232.5,0.01,0.0094,0.01,0.0094),
(1.0,1.2,232.5,258.5,0.0094,0.0088,0.0094,0.0088),
(1.0,1.2,258.5,286.0,0.0088,0.0082,0.0088,0.0082),
(1.0,1.2,286.0,331.0,0.0082,0.0075,0.0082,0.0075),
(1.0,1.2,331.0,396.0,0.0075,0.0066,0.0075,0.0066),
(1.0,1.2,396.0,468.5,0.0066,0.0059,0.0066,0.0059),
(1.0,1.2,468.5,549.5,0.0059,0.0053,0.0059,0.0053),
(1.0,1.2,549.5,639.0,0.0053,0.0051,0.0053,0.0051),
(1.0,1.2,639.0,738.0,0.0051,0.005,0.0051,0.005),
(1.0,1.2,738.0,847.5,0.005,0.0053,0.005,0.0053),
(1.0,1.2,847.5,968.5,0.0053,0.0058,0.0053,0.0058),
(1.0,1.2,968.5,1102.0,0.0058,0.0065,0.0058,0.0065),
(1.0,1.2,1102.0,1249.5,0.0065,0.007,0.0065,0.007),
(1.0,1.2,1249.5,1412.0,0.007,0.0076,0.007,0.0076),
(1.0,1.2,1412.0,1590.5,0.0076,0.0083,0.0076,0.0083),
(1.0,1.2,1590.5,1787.0,0.0083,0.009,0.0083,0.009),
(1.0,1.2,1787.0,2003.0,0.009,0.0098,0.009,0.0098),
(1.0,1.2,2003.0,2241.0,0.0098,0.0105,0.0098,0.0105),
(1.0,1.2,2241.0,2503.0,0.0105,0.0112,0.0105,0.0112),
(1.0,1.2,2503.0,2790.5,0.0112,0.012,0.0112,0.012),
(1.0,1.2,2790.5,3107.0,0.012,0.0128,0.012,0.0128),
(1.0,1.2,3107.0,3455.0,0.0128,0.0135,0.0128,0.0135),
(1.0,1.2,3455.0,3837.0,0.0135,0.0144,0.0135,0.0144),
(1.0,1.2,3837.0,4257.0,0.0144,0.0151,0.0144,0.0151),
(1.0,1.2,4257.0,4719.0,0.0151,0.0159,0.0151,0.0159),
(1.0,1.2,4719.0,5226.5,0.0159,0.0166,0.0159,0.0166),
(1.0,1.2,5226.5,5784.0,0.0166,0.0173,0.0166,0.0173),
(1.0,1.2,5784.0,6538.0,0.0173,0.0217,0.0173,0.0217),
(1.0,1.2,6538.0,1e+18,0.0217,0.0217,0.0217,0.0217),
(1.2,1.4,-1e+18,9.0,0.068,0.068,0.068,0.068),
(1.2,1.4,9.0,11.0,0.068,0.0614,0.068,0.0614),
(1.2,1.4,11.0,13.5,0.0614,0.0534,0.0614,0.0534),
(1.2,1.4,13.5,16.5,0.0534,0.0466,0.0534,0.0466),
(1.2,1.4,16.5,19.5,0.0466,0.0412,0.0466,0.0412),
(1.2,1.4,19.5,22.5,0.0412,0.0369,0.0412,0.0369),
(1.2,1.4,22.5,26.0,0.0369,0.0331,0.0369,0.0331),
(1.2,1.4,26.0,30.0,0.0331,0.031,0.0331,0.031),
(1.2,1.4,30.0,34.5,0.031,0.0283,0.031,0.0283),
(1.2,1.4,34.5,40.0,0.0283,0.0256,0.0283,0.0256),
(1.2,1.4,40.0,46.0,0.0256,0.0233,0.0256,0.0233),
(1.2,1.4,46.0,52.5,0.0233,0.0215,0.0233,0.0215),
(1.2,1.4,52.5,60.0,0.0215,0.0198,0.0215,0.0198),
(1.2,1.4,60.0,69.0,0.0198,0.0182,0.0198,0.0182),
(1.2,1.4,69.0,79.0,0.0182,0.0168,0.0182,0.0168),
(1.2,1.4,79.0,90.5,0.0168,0.0155,0.0168,0.0155),
(1.2,1.4,90.5,105.5,0.0155,0.0143,0.0155,0.0143),
(1.2,1.4,105.5,123.5,0.0143,0.0132,0.0143,0.0132),
(1.2,1.4,123.5,143.0,0.0132,0.0123,0.0132,0.0123),
(1.2,1.4,143.0,163.5,0.0123,0.0115,0.0123,0.0115),
(1.2,1.4,163.5,185.0,0.0115,0.0108,0.0115,0.0108),
(1.2,1.4,185.0,208.0,0.0108,0.0102,0.0108,0.0102),
(1.2,1.4,208.0,232.5,0.0102,0.0097,0.0102,0.0097),
(1.2,1.4,232.5,258.5,0.0097,0.0091,0.0097,0.0091),
(1.2,1.4,258.5,286.0,0.0091,0.0086,0.0091,0.0086),
(1.2,1.4,286.0,331.0,0.0086,0.0079,0.0086,0.0079),
(1.2,1.4,331.0,396.0,0.0079,0.0071,0.0079,0.0071),
(1.2,1.4,396.0,468.5,0.0071,0.0064,0.0071,0.0064),
(1.2,1.4,468.5,549.5,0.0064,0.0059,0.0064,0.0059),
(1.2,1.4,549.5,639.0,0.0059,0.0056,0.0059,0.0056),
(1.2,1.4,639.0,738.0,0.0056,0.0056,0.0056,0.0056),
(1.2,1.4,738.0,847.5,0.0056,0.006,0.0056,0.006),
(1.2,1.4,847.5,968.5,0.006,0.0065,0.006,0.0065),
(1.2,1.4,968.5,1102.0,0.0065,0.0073,0.0065,0.0073),
(1.2,1.4,1102.0,1249.5,0.0073,0.0079,0.0073,0.0079),
(1.2,1.4,1249.5,1412.0,0.0079,0.0087,0.0079,0.0087),
(1.2,1.4,1412.0,1590.5,0.0087,0.0095,0.0087,0.0095),
(1.2,1.4,1590.5,1787.0,0.0095,0.0104,0.0095,0.0104),
(1.2,1.4,1787.0,2003.0,0.0104,0.0113,0.0104,0.0113),
(1.2,1.4,2003.0,2241.0,0.0113,0.0122,0.0113,0.0122),
(1.2,1.4,2241.0,2503.0,0.0122,0.0131,0.0122,0.0131),
(1.2,1.4,2503.0,2790.5,0.0131,0.014,0.0131,0.014),
(1.2,1.4,2790.5,3107.0,0.014,0.015,0.014,0.015),
(1.2,1.4,3107.0,3455.0,0.015,0.0159,0.015,0.0159),
(1.2,1.4,3455.0,3837.0,0.0159,0.0168,0.0159,0.0168),
(1.2,1.4,3837.0,4257.0,0.0168,0.0178,0.0168,0.0178),
(1.2,1.4,4257.0,4719.0,0.0178,0.0187,0.0178,0.0187),
(1.2,1.4,4719.0,5226.5,0.0187,0.0197,0.0187,0.0197),
(1.2,1.4,5226.5,5784.0,0.0197,0.0206,0.0197,0.0206),
(1.2,1.4,5784.0,6538.0,0.0206,0.0284,0.0206,0.0284),
(1.2,1.4,6538.0,1e+18,0.0284,0.0284,0.0284,0.0284),
(1.4,1.6,-1e+18,9.0,0.0651,0.0651,0.0651,0.0651),
(1.4,1.6,9.0,11.0,0.0651,0.0592,0.0651,0.0592),
(1.4,1.6,11.0,13.5,0.0592,0.0527,0.0592,0.0527),
(1.4,1.6,13.5,16.5,0.0527,0.0474,0.0527,0.0474),
(1.4,1.6,16.5,19.5,0.0474,0.0437,0.0474,0.0437),
(1.4,1.6,19.5,22.5,0.0437,0.0409,0.0437,0.0409),
(1.4,1.6,22.5,26.0,0.0409,0.0385,0.0409,0.0385),
(1.4,1.6,26.0,30.0,0.0385,0.0376,0.0385,0.0376),
(1.4,1.6,30.0,34.5,0.0376,0.0356,0.0376,0.0356),
(1.4,1.6,34.5,40.0,0.0356,0.0335,0.0356,0.0335),
(1.4,1.6,40.0,46.0,0.0335,0.0319,0.0335,0.0319),
(1.4,1.6,46.0,52.5,0.0319,0.0305,0.0319,0.0305),
(1.4,1.6,52.5,60.0,0.0305,0.0292,0.0305,0.0292),
(1.4,1.6,60.0,69.0,0.0292,0.028,0.0292,0.028),
(1.4,1.6,69.0,79.0,0.028,0.027,0.028,0.027),
(1.4,1.6,79.0,90.5,0.027,0.026,0.027,0.026),
(1.4,1.6,90.5,105.5,0.026,0.025,0.026,0.025),
(1.4,1.6,105.5,123.5,0.025,0.0241,0.025,0.0241),
(1.4,1.6,123.5,143.0,0.0241,0.0233,0.0241,0.0233),
(1.4,1.6,143.0,163.5,0.0233,0.0227,0.0233,0.0227),
(1.4,1.6,163.5,185.0,0.0227,0.0221,0.0227,0.0221),
(1.4,1.6,185.0,208.0,0.0221,0.0216,0.0221,0.0216),
(1.4,1.6,208.0,232.5,0.0216,0.0211,0.0216,0.0211),
(1.4,1.6,232.5,258.5,0.0211,0.0207,0.0211,0.0207),
(1.4,1.6,258.5,286.0,0.0207,0.0203,0.0207,0.0203),
(1.4,1.6,286.0,331.0,0.0203,0.0197,0.0203,0.0197),
(1.4,1.6,331.0,396.0,0.0197,0.0191,0.0197,0.0191),
(1.4,1.6,396.0,468.5,0.0191,0.0186,0.0191,0.0186),
(1.4,1.6,468.5,549.5,0.0186,0.0183,0.0186,0.0183),
(1.4,1.6,549.5,639.0,0.0183,0.018,0.0183,0.018),
(1.4,1.6,639.0,738.0,0.018,0.0179,0.018,0.0179),
(1.4,1.6,738.0,847.5,0.0179,0.0179,0.0179,0.0179),
(1.4,1.6,847.5,968.5,0.0179,0.0181,0.0179,0.0181),
(1.4,1.6,968.5,1102.0,0.0181,0.0183,0.0181,0.0183),
(1.4,1.6,1102.0,1249.5,0.0183,0.0186,0.0183,0.0186),
(1.4,1.6,1249.5,1412.0,0.0186,0.0188,0.0186,0.0188),
(1.4,1.6,1412.0,1590.5,0.0188,0.0191,0.0188,0.0191),
(1.4,1.6,1590.5,1787.0,0.0191,0.0194,0.0191,0.0194),
(1.4,1.6,1787.0,2003.0,0.0194,0.0197,0.0194,0.0197),
(1.4,1.6,2003.0,2241.0,0.0197,0.02,0.0197,0.02),
(1.4,1.6,2241.0,2503.0,0.02,0.0204,0.02,0.0204),
(1.4,1.6,2503.0,2790.5,0.0204,0.0207,0.0204,0.0207),
(1.4,1.6,2790.5,3107.0,0.0207,0.0212,0.0207,0.0212),
(1.4,1.6,3107.0,3455.0,0.0212,0.0217,0.0212,0.0217),
(1.4,1.6,3455.0,3837.0,0.0217,0.0223,0.0217,0.0223),
(1.4,1.6,3837.0,4257.0,0.0223,0.0229,0.0223,0.0229),
(1.4,1.6,4257.0,4719.0,0.0229,0.0235,0.0229,0.0235),
(1.4,1.6,4719.0,5226.5,0.0235,0.0242,0.0235,0.0242),
(1.4,1.6,5226.5,5784.0,0.0242,0.0248,0.0242,0.0248),
(1.4,1.6,5784.0,6538.0,0.0248,0.0282,0.0248,0.0282),
(1.4,1.6,6538.0,1e+18,0.0282,0.0282,0.0282,0.0282),
(1.6,1.8,-1e+18,9.0,0.0694,0.0694,0.0694,0.0694),
(1.6,1.8,9.0,11.0,0.0694,0.0649,0.0694,0.0649),
(1.6,1.8,11.0,13.5,0.0649,0.0597,0.0649,0.0597),
(1.6,1.8,13.5,16.5,0.0597,0.0555,0.0597,0.0555),
(1.6,1.8,16.5,19.5,0.0555,0.0524,0.0555,0.0524),
(1.6,1.8,19.5,22.5,0.0524,0.0501,0.0524,0.0501),
(1.6,1.8,22.5,26.0,0.0501,0.0481,0.0501,0.0481),
(1.6,1.8,26.0,30.0,0.0481,0.0468,0.0481,0.0468),
(1.6,1.8,30.0,34.5,0.0468,0.0446,0.0468,0.0446),
(1.6,1.8,34.5,40.0,0.0446,0.0423,0.0446,0.0423),
(1.6,1.8,40.0,46.0,0.0423,0.0402,0.0423,0.0402),
(1.6,1.8,46.0,52.5,0.0402,0.0383,0.0402,0.0383),
(1.6,1.8,52.5,60.0,0.0383,0.0365,0.0383,0.0365),
(1.6,1.8,60.0,69.0,0.0365,0.0347,0.0365,0.0347),
(1.6,1.8,69.0,79.0,0.0347,0.0329,0.0347,0.0329),
(1.6,1.8,79.0,90.5,0.0329,0.0313,0.0329,0.0313),
(1.6,1.8,90.5,105.5,0.0313,0.0295,0.0313,0.0295),
(1.6,1.8,105.5,123.5,0.0295,0.0277,0.0295,0.0277),
(1.6,1.8,123.5,143.0,0.0277,0.0262,0.0277,0.0262),
(1.6,1.8,143.0,163.5,0.0262,0.0248,0.0262,0.0248),
(1.6,1.8,163.5,185.0,0.0248,0.0235,0.0248,0.0235),
(1.6,1.8,185.0,208.0,0.0235,0.0224,0.0235,0.0224),
(1.6,1.8,208.0,232.5,0.0224,0.0213,0.0224,0.0213),
(1.6,1.8,232.5,258.5,0.0213,0.0203,0.0213,0.0203),
(1.6,1.8,258.5,286.0,0.0203,0.0194,0.0203,0.0194),
(1.6,1.8,286.0,331.0,0.0194,0.0181,0.0194,0.0181),
(1.6,1.8,331.0,396.0,0.0181,0.0166,0.0181,0.0166),
(1.6,1.8,396.0,468.5,0.0166,0.0154,0.0166,0.0154),
(1.6,1.8,468.5,549.5,0.0154,0.0144,0.0154,0.0144),
(1.6,1.8,549.5,639.0,0.0144,0.0136,0.0144,0.0136),
(1.6,1.8,639.0,738.0,0.0136,0.0132,0.0136,0.0132),
(1.6,1.8,738.0,847.5,0.0132,0.013,0.0132,0.013),
(1.6,1.8,847.5,968.5,0.013,0.0132,0.013,0.0132),
(1.6,1.8,968.5,1102.0,0.0132,0.0136,0.0132,0.0136),
(1.6,1.8,1102.0,1249.5,0.0136,0.0138,0.0136,0.0138),
(1.6,1.8,1249.5,1412.0,0.0138,0.0141,0.0138,0.0141),
(1.6,1.8,1412.0,1590.5,0.0141,0.0145,0.0141,0.0145),
(1.6,1.8,1590.5,1787.0,0.0145,0.0149,0.0145,0.0149),
(1.6,1.8,1787.0,2003.0,0.0149,0.0153,0.0149,0.0153),
(1.6,1.8,2003.0,2241.0,0.0153,0.0157,0.0153,0.0157),
(1.6,1.8,2241.0,2503.0,0.0157,0.0164,0.0157,0.0164),
(1.6,1.8,2503.0,2790.5,0.0164,0.0171,0.0164,0.0171),
(1.6,1.8,2790.5,3107.0,0.0171,0.0179,0.0171,0.0179),
(1.6,1.8,3107.0,3455.0,0.0179,0.0186,0.0179,0.0186),
(1.6,1.8,3455.0,3837.0,0.0186,0.0195,0.0186,0.0195),
(1.6,1.8,3837.0,4257.0,0.0195,0.0204,0.0195,0.0204),
(1.6,1.8,4257.0,4719.0,0.0204,0.0214,0.0204,0.0214),
(1.6,1.8,4719.0,5226.5,0.0214,0.0223,0.0214,0.0223),
(1.6,1.8,5226.5,5784.0,0.0223,0.0233,0.0223,0.0233),
(1.6,1.8,5784.0,6538.0,0.0233,0.0457,0.0233,0.0457),
(1.6,1.8,6538.0,1e+18,0.0457,0.0457,0.0457,0.0457),
(1.8,2.0,-1e+18,9.0,0.0665,0.0665,0.0665,0.0665),
(1.8,2.0,9.0,11.0,0.0665,0.0621,0.0665,0.0621),
(1.8,2.0,11.0,13.5,0.0621,0.0569,0.0621,0.0569),
(1.8,2.0,13.5,16.5,0.0569,0.0534,0.0569,0.0534),
(1.8,2.0,16.5,19.5,0.0534,0.0509,0.0534,0.0509),
(1.8,2.0,19.5,22.5,0.0509,0.049,0.0509,0.049),
(1.8,2.0,22.5,26.0,0.049,0.0473,0.049,0.0473),
(1.8,2.0,26.0,30.0,0.0473,0.0462,0.0473,0.0462),
(1.8,2.0,30.0,34.5,0.0462,0.0442,0.0462,0.0442),
(1.8,2.0,34.5,40.0,0.0442,0.042,0.0442,0.042),
(1.8,2.0,40.0,46.0,0.042,0.04,0.042,0.04),
(1.8,2.0,46.0,52.5,0.04,0.0382,0.04,0.0382),
(1.8,2.0,52.5,60.0,0.0382,0.0365,0.0382,0.0365),
(1.8,2.0,60.0,69.0,0.0365,0.0347,0.0365,0.0347),
(1.8,2.0,69.0,79.0,0.0347,0.033,0.0347,0.033),
(1.8,2.0,79.0,90.5,0.033,0.0313,0.033,0.0313),
(1.8,2.0,90.5,105.5,0.0313,0.0295,0.0313,0.0295),
(1.8,2.0,105.5,123.5,0.0295,0.0278,0.0295,0.0278),
(1.8,2.0,123.5,143.0,0.0278,0.0262,0.0278,0.0262),
(1.8,2.0,143.0,163.5,0.0262,0.0248,0.0262,0.0248),
(1.8,2.0,163.5,185.0,0.0248,0.0236,0.0248,0.0236),
(1.8,2.0,185.0,208.0,0.0236,0.0225,0.0236,0.0225),
(1.8,2.0,208.0,232.5,0.0225,0.0214,0.0225,0.0214),
(1.8,2.0,232.5,258.5,0.0214,0.0204,0.0214,0.0204),
(1.8,2.0,258.5,286.0,0.0204,0.0195,0.0204,0.0195),
(1.8,2.0,286.0,331.0,0.0195,0.0182,0.0195,0.0182),
(1.8,2.0,331.0,396.0,0.0182,0.0167,0.0182,0.0167),
(1.8,2.0,396.0,468.5,0.0167,0.0154,0.0167,0.0154),
(1.8,2.0,468.5,549.5,0.0154,0.0144,0.0154,0.0144),
(1.8,2.0,549.5,639.0,0.0144,0.0137,0.0144,0.0137),
(1.8,2.0,639.0,738.0,0.0137,0.0133,0.0137,0.0133),
(1.8,2.0,738.0,847.5,0.0133,0.0132,0.0133,0.0132),
(1.8,2.0,847.5,968.5,0.0132,0.0134,0.0132,0.0134),
(1.8,2.0,968.5,1102.0,0.0134,0.0139,0.0134,0.0139),
(1.8,2.0,1102.0,1249.5,0.0139,0.0143,0.0139,0.0143),
(1.8,2.0,1249.5,1412.0,0.0143,0.0148,0.0143,0.0148),
(1.8,2.0,1412.0,1590.5,0.0148,0.0154,0.0148,0.0154),
(1.8,2.0,1590.5,1787.0,0.0154,0.0159,0.0154,0.0159),
(1.8,2.0,1787.0,2003.0,0.0159,0.0167,0.0159,0.0167),
(1.8,2.0,2003.0,2241.0,0.0167,0.0175,0.0167,0.0175),
(1.8,2.0,2241.0,2503.0,0.0175,0.0184,0.0175,0.0184),
(1.8,2.0,2503.0,2790.5,0.0184,0.0194,0.0184,0.0194),
(1.8,2.0,2790.5,3107.0,0.0194,0.0204,0.0194,0.0204),
(1.8,2.0,3107.0,3455.0,0.0204,0.0214,0.0204,0.0214),
(1.8,2.0,3455.0,3837.0,0.0214,0.0226,0.0214,0.0226),
(1.8,2.0,3837.0,4257.0,0.0226,0.0238,0.0226,0.0238),
(1.8,2.0,4257.0,4719.0,0.0238,0.0249,0.0238,0.0249),
(1.8,2.0,4719.0,5226.5,0.0249,0.0262,0.0249,0.0262),
(1.8,2.0,5226.5,5784.0,0.0262,0.0274,0.0262,0.0274),
(1.8,2.0,5784.0,6538.0,0.0274,0.0555,0.0274,0.0555),
(1.8,2.0,6538.0,1e+18,0.0555,0.0555,0.0555,0.0555),
(2.0,2.2,-1e+18,9.0,0.064,0.064,0.064,0.064),
(2.0,2.2,9.0,11.0,0.064,0.0602,0.064,0.0602),
(2.0,2.2,11.0,13.5,0.0602,0.0555,0.0602,0.0555),
(2.0,2.2,13.5,16.5,0.0555,0.0518,0.0555,0.0518),
(2.0,2.2,16.5,19.5,0.0518,0.0495,0.0518,0.0495),
(2.0,2.2,19.5,22.5,0.0495,0.0475,0.0495,0.0475),
(2.0,2.2,22.5,26.0,0.0475,0.046,0.0475,0.046),
(2.0,2.2,26.0,30.0,0.046,0.045,0.046,0.045),
(2.0,2.2,30.0,34.5,0.045,0.0431,0.045,0.0431),
(2.0,2.2,34.5,40.0,0.0431,0.0411,0.0431,0.0411),
(2.0,2.2,40.0,46.0,0.0411,0.0392,0.0411,0.0392),
(2.0,2.2,46.0,52.5,0.0392,0.0374,0.0392,0.0374),
(2.0,2.2,52.5,60.0,0.0374,0.0357,0.0374,0.0357),""",
    """(2.0,2.2,60.0,69.0,0.0357,0.0341,0.0357,0.0341),
(2.0,2.2,69.0,79.0,0.0341,0.0324,0.0341,0.0324),
(2.0,2.2,79.0,90.5,0.0324,0.0308,0.0324,0.0308),
(2.0,2.2,90.5,105.5,0.0308,0.0291,0.0308,0.0291),
(2.0,2.2,105.5,123.5,0.0291,0.0274,0.0291,0.0274),
(2.0,2.2,123.5,143.0,0.0274,0.0259,0.0274,0.0259),
(2.0,2.2,143.0,163.5,0.0259,0.0246,0.0259,0.0246),
(2.0,2.2,163.5,185.0,0.0246,0.0234,0.0246,0.0234),
(2.0,2.2,185.0,208.0,0.0234,0.0223,0.0234,0.0223),
(2.0,2.2,208.0,232.5,0.0223,0.0212,0.0223,0.0212),
(2.0,2.2,232.5,258.5,0.0212,0.0203,0.0212,0.0203),
(2.0,2.2,258.5,286.0,0.0203,0.0194,0.0203,0.0194),
(2.0,2.2,286.0,331.0,0.0194,0.0181,0.0194,0.0181),
(2.0,2.2,331.0,396.0,0.0181,0.0167,0.0181,0.0167),
(2.0,2.2,396.0,468.5,0.0167,0.0155,0.0167,0.0155),
(2.0,2.2,468.5,549.5,0.0155,0.0145,0.0155,0.0145),
(2.0,2.2,549.5,639.0,0.0145,0.0139,0.0145,0.0139),
(2.0,2.2,639.0,738.0,0.0139,0.0135,0.0139,0.0135),
(2.0,2.2,738.0,847.5,0.0135,0.0136,0.0135,0.0136),
(2.0,2.2,847.5,968.5,0.0136,0.014,0.0136,0.014),
(2.0,2.2,968.5,1102.0,0.014,0.0147,0.014,0.0147),
(2.0,2.2,1102.0,1249.5,0.0147,0.0154,0.0147,0.0154),
(2.0,2.2,1249.5,1412.0,0.0154,0.0162,0.0154,0.0162),
(2.0,2.2,1412.0,1590.5,0.0162,0.0169,0.0162,0.0169),
(2.0,2.2,1590.5,1787.0,0.0169,0.018,0.0169,0.018),
(2.0,2.2,1787.0,2003.0,0.018,0.0191,0.018,0.0191),
(2.0,2.2,2003.0,2241.0,0.0191,0.0203,0.0191,0.0203),
(2.0,2.2,2241.0,2503.0,0.0203,0.0215,0.0203,0.0215),
(2.0,2.2,2503.0,2790.5,0.0215,0.0228,0.0215,0.0228),
(2.0,2.2,2790.5,3107.0,0.0228,0.0241,0.0228,0.0241),
(2.0,2.2,3107.0,3455.0,0.0241,0.0255,0.0241,0.0255),
(2.0,2.2,3455.0,3837.0,0.0255,0.027,0.0255,0.027),
(2.0,2.2,3837.0,4257.0,0.027,0.0286,0.027,0.0286),
(2.0,2.2,4257.0,4719.0,0.0286,0.0302,0.0286,0.0302),
(2.0,2.2,4719.0,5226.5,0.0302,0.0317,0.0302,0.0317),
(2.0,2.2,5226.5,5784.0,0.0317,0.0333,0.0317,0.0333),
(2.0,2.2,5784.0,6538.0,0.0333,0.0507,0.0333,0.0507),
(2.0,2.2,6538.0,1e+18,0.0507,0.0507,0.0507,0.0507),
(2.2,2.4,-1e+18,9.0,0.0646,0.0646,0.0646,0.0646),
(2.2,2.4,9.0,11.0,0.0646,0.0597,0.0646,0.0597),
(2.2,2.4,11.0,13.5,0.0597,0.054,0.0597,0.054),
(2.2,2.4,13.5,16.5,0.054,0.0498,0.054,0.0498),
(2.2,2.4,16.5,19.5,0.0498,0.0471,0.0498,0.0471),
(2.2,2.4,19.5,22.5,0.0471,0.0452,0.0471,0.0452),
(2.2,2.4,22.5,26.0,0.0452,0.0437,0.0452,0.0437),
(2.2,2.4,26.0,30.0,0.0437,0.0428,0.0437,0.0428),
(2.2,2.4,30.0,34.5,0.0428,0.0411,0.0428,0.0411),
(2.2,2.4,34.5,40.0,0.0411,0.0394,0.0411,0.0394),
(2.2,2.4,40.0,46.0,0.0394,0.0379,0.0394,0.0379),
(2.2,2.4,46.0,52.5,0.0379,0.0366,0.0379,0.0366),
(2.2,2.4,52.5,60.0,0.0366,0.0355,0.0366,0.0355),
(2.2,2.4,60.0,69.0,0.0355,0.0343,0.0355,0.0343),
(2.2,2.4,69.0,79.0,0.0343,0.0332,0.0343,0.0332),
(2.2,2.4,79.0,90.5,0.0332,0.0321,0.0332,0.0321),
(2.2,2.4,90.5,105.5,0.0321,0.0309,0.0321,0.0309),
(2.2,2.4,105.5,123.5,0.0309,0.0298,0.0309,0.0298),
(2.2,2.4,123.5,143.0,0.0298,0.0288,0.0298,0.0288),
(2.2,2.4,143.0,163.5,0.0288,0.0279,0.0288,0.0279),
(2.2,2.4,163.5,185.0,0.0279,0.0272,0.0279,0.0272),
(2.2,2.4,185.0,208.0,0.0272,0.0264,0.0272,0.0264),
(2.2,2.4,208.0,232.5,0.0264,0.0258,0.0264,0.0258),
(2.2,2.4,232.5,258.5,0.0258,0.0251,0.0258,0.0251),
(2.2,2.4,258.5,286.0,0.0251,0.0246,0.0251,0.0246),
(2.2,2.4,286.0,331.0,0.0246,0.0237,0.0246,0.0237),
(2.2,2.4,331.0,396.0,0.0237,0.0227,0.0237,0.0227),
(2.2,2.4,396.0,468.5,0.0227,0.0219,0.0227,0.0219),
(2.2,2.4,468.5,549.5,0.0219,0.0212,0.0219,0.0212),
(2.2,2.4,549.5,639.0,0.0212,0.0207,0.0212,0.0207),
(2.2,2.4,639.0,738.0,0.0207,0.0203,0.0207,0.0203),
(2.2,2.4,738.0,847.5,0.0203,0.0202,0.0203,0.0202),
(2.2,2.4,847.5,968.5,0.0202,0.0203,0.0202,0.0203),
(2.2,2.4,968.5,1102.0,0.0203,0.0205,0.0203,0.0205),
(2.2,2.4,1102.0,1249.5,0.0205,0.0206,0.0205,0.0206),
(2.2,2.4,1249.5,1412.0,0.0206,0.0212,0.0206,0.0212),
(2.2,2.4,1412.0,1590.5,0.0212,0.0219,0.0212,0.0219),
(2.2,2.4,1590.5,1787.0,0.0219,0.0227,0.0219,0.0227),
(2.2,2.4,1787.0,2003.0,0.0227,0.0236,0.0227,0.0236),
(2.2,2.4,2003.0,2241.0,0.0236,0.0245,0.0236,0.0245),
(2.2,2.4,2241.0,2503.0,0.0245,0.0255,0.0245,0.0255),
(2.2,2.4,2503.0,2790.5,0.0255,0.0266,0.0255,0.0266),
(2.2,2.4,2790.5,3107.0,0.0266,0.0278,0.0266,0.0278),
(2.2,2.4,3107.0,3455.0,0.0278,0.029,0.0278,0.029),
(2.2,2.4,3455.0,3837.0,0.029,0.0303,0.029,0.0303),
(2.2,2.4,3837.0,4257.0,0.0303,0.0317,0.0303,0.0317),
(2.2,2.4,4257.0,4719.0,0.0317,0.0332,0.0317,0.0332),
(2.2,2.4,4719.0,5226.5,0.0332,0.0347,0.0332,0.0347),
(2.2,2.4,5226.5,5784.0,0.0347,0.0362,0.0347,0.0362),
(2.2,2.4,5784.0,6538.0,0.0362,0.0381,0.0362,0.0381),
(2.2,2.4,6538.0,1e+18,0.0381,0.0381,0.0381,0.0381),
(2.4,2.6,-1e+18,9.0,0.1187,0.1187,0.1187,0.1187),
(2.4,2.6,9.0,11.0,0.1187,0.1049,0.1187,0.1049),
(2.4,2.6,11.0,13.5,0.1049,0.0906,0.1049,0.0906),
(2.4,2.6,13.5,16.5,0.0906,0.0795,0.0906,0.0795),
(2.4,2.6,16.5,19.5,0.0795,0.0721,0.0795,0.0721),
(2.4,2.6,19.5,22.5,0.0721,0.0667,0.0721,0.0667),
(2.4,2.6,22.5,26.0,0.0667,0.0626,0.0667,0.0626),
(2.4,2.6,26.0,30.0,0.0626,0.0589,0.0626,0.0589),
(2.4,2.6,30.0,34.5,0.0589,0.0555,0.0589,0.0555),
(2.4,2.6,34.5,40.0,0.0555,0.0524,0.0555,0.0524),
(2.4,2.6,40.0,46.0,0.0524,0.049,0.0524,0.049),
(2.4,2.6,46.0,52.5,0.049,0.0464,0.049,0.0464),
(2.4,2.6,52.5,60.0,0.0464,0.0439,0.0464,0.0439),
(2.4,2.6,60.0,69.0,0.0439,0.0413,0.0439,0.0413),
(2.4,2.6,69.0,79.0,0.0413,0.0389,0.0413,0.0389),
(2.4,2.6,79.0,90.5,0.0389,0.0366,0.0389,0.0366),
(2.4,2.6,90.5,105.5,0.0366,0.0342,0.0366,0.0342),
(2.4,2.6,105.5,123.5,0.0342,0.0319,0.0342,0.0319),
(2.4,2.6,123.5,143.0,0.0319,0.0298,0.0319,0.0298),
(2.4,2.6,143.0,163.5,0.0298,0.028,0.0298,0.028),
(2.4,2.6,163.5,185.0,0.028,0.0265,0.028,0.0265),
(2.4,2.6,185.0,208.0,0.0265,0.0251,0.0265,0.0251),
(2.4,2.6,208.0,232.5,0.0251,0.024,0.0251,0.024),
(2.4,2.6,232.5,258.5,0.024,0.0229,0.024,0.0229),
(2.4,2.6,258.5,286.0,0.0229,0.022,0.0229,0.022),
(2.4,2.6,286.0,331.0,0.022,0.0209,0.022,0.0209),
(2.4,2.6,331.0,396.0,0.0209,0.0199,0.0209,0.0199),
(2.4,2.6,396.0,468.5,0.0199,0.0194,0.0199,0.0194),
(2.4,2.6,468.5,549.5,0.0194,0.02,0.0194,0.02),
(2.4,2.6,549.5,639.0,0.02,0.0188,0.02,0.0188),
(2.4,2.6,639.0,738.0,0.0188,0.0188,0.0188,0.0188),
(2.4,2.6,738.0,847.5,0.0188,0.0189,0.0188,0.0189),
(2.4,2.6,847.5,968.5,0.0189,0.0188,0.0189,0.0188),
(2.4,2.6,968.5,1102.0,0.0188,0.0189,0.0188,0.0189),
(2.4,2.6,1102.0,1249.5,0.0189,0.0192,0.0189,0.0192),
(2.4,2.6,1249.5,1412.0,0.0192,0.0195,0.0192,0.0195),
(2.4,2.6,1412.0,1590.5,0.0195,0.0198,0.0195,0.0198),
(2.4,2.6,1590.5,1787.0,0.0198,0.0202,0.0198,0.0202),
(2.4,2.6,1787.0,2003.0,0.0202,0.0206,0.0202,0.0206),
(2.4,2.6,2003.0,2241.0,0.0206,0.021,0.0206,0.021),
(2.4,2.6,2241.0,2503.0,0.021,0.0215,0.021,0.0215),
(2.4,2.6,2503.0,2790.5,0.0215,0.022,0.0215,0.022),
(2.4,2.6,2790.5,3107.0,0.022,0.0225,0.022,0.0225),
(2.4,2.6,3107.0,3455.0,0.0225,0.023,0.0225,0.023),
(2.4,2.6,3455.0,3837.0,0.023,0.0237,0.023,0.0237),
(2.4,2.6,3837.0,4257.0,0.0237,0.0244,0.0237,0.0244),
(2.4,2.6,4257.0,4719.0,0.0244,0.0252,0.0244,0.0252),
(2.4,2.6,4719.0,5226.5,0.0252,0.0259,0.0252,0.0259),
(2.4,2.6,5226.5,5784.0,0.0259,0.0267,0.0259,0.0267),
(2.4,2.6,5784.0,6538.0,0.0267,0.0521,0.0267,0.0521),
(2.4,2.6,6538.0,1e+18,0.0521,0.0521,0.0521,0.0521),
(2.6,2.8,-1e+18,9.0,0.0926,0.0926,0.0926,0.0926),
(2.6,2.8,9.0,11.0,0.0926,0.0795,0.0926,0.0795),
(2.6,2.8,11.0,13.5,0.0795,0.0674,0.0795,0.0674),
(2.6,2.8,13.5,16.5,0.0674,0.0588,0.0674,0.0588),
(2.6,2.8,16.5,19.5,0.0588,0.052,0.0588,0.052),
(2.6,2.8,19.5,22.5,0.052,0.0479,0.052,0.0479),
(2.6,2.8,22.5,26.0,0.0479,0.0444,0.0479,0.0444),
(2.6,2.8,26.0,30.0,0.0444,0.0436,0.0444,0.0436),
(2.6,2.8,30.0,34.5,0.0436,0.0394,0.0436,0.0394),
(2.6,2.8,34.5,40.0,0.0394,0.0364,0.0394,0.0364),
(2.6,2.8,40.0,46.0,0.0364,0.0343,0.0364,0.0343),
(2.6,2.8,46.0,52.5,0.0343,0.0324,0.0343,0.0324),
(2.6,2.8,52.5,60.0,0.0324,0.031,0.0324,0.031),
(2.6,2.8,60.0,69.0,0.031,0.0291,0.031,0.0291),
(2.6,2.8,69.0,79.0,0.0291,0.028,0.0291,0.028),
(2.6,2.8,79.0,90.5,0.028,0.0273,0.028,0.0273),
(2.6,2.8,90.5,105.5,0.0273,0.0271,0.0273,0.0271),
(2.6,2.8,105.5,123.5,0.0271,0.027,0.0271,0.027),
(2.6,2.8,123.5,143.0,0.027,0.0271,0.027,0.0271),
(2.6,2.8,143.0,163.5,0.0271,0.0284,0.0271,0.0284),
(2.6,2.8,163.5,185.0,0.0284,0.0296,0.0284,0.0296),
(2.6,2.8,185.0,208.0,0.0296,0.032,0.0296,0.032),
(2.6,2.8,208.0,232.5,0.032,0.0333,0.032,0.0333),
(2.6,2.8,232.5,258.5,0.0333,0.0349,0.0333,0.0349),
(2.6,2.8,258.5,286.0,0.0349,0.0372,0.0349,0.0372),
(2.6,2.8,286.0,331.0,0.0372,0.0395,0.0372,0.0395),
(2.6,2.8,331.0,396.0,0.0395,0.0435,0.0395,0.0435),
(2.6,2.8,396.0,468.5,0.0435,0.0464,0.0435,0.0464),
(2.6,2.8,468.5,549.5,0.0464,0.05,0.0464,0.05),
(2.6,2.8,549.5,639.0,0.05,0.0456,0.05,0.0456),
(2.6,2.8,639.0,738.0,0.0456,0.046,0.0456,0.046),
(2.6,2.8,738.0,847.5,0.046,0.0463,0.046,0.0463),
(2.6,2.8,847.5,968.5,0.0463,0.0465,0.0463,0.0465),
(2.6,2.8,968.5,1102.0,0.0465,0.0468,0.0465,0.0468),
(2.6,2.8,1102.0,1249.5,0.0468,0.047,0.0468,0.047),
(2.6,2.8,1249.5,1412.0,0.047,0.0473,0.047,0.0473),
(2.6,2.8,1412.0,1590.5,0.0473,0.0476,0.0473,0.0476),
(2.6,2.8,1590.5,1787.0,0.0476,0.0479,0.0476,0.0479),
(2.6,2.8,1787.0,2003.0,0.0479,0.0482,0.0479,0.0482),
(2.6,2.8,2003.0,2241.0,0.0482,0.0485,0.0482,0.0485),
(2.6,2.8,2241.0,2503.0,0.0485,0.0489,0.0485,0.0489),
(2.6,2.8,2503.0,2790.5,0.0489,0.0493,0.0489,0.0493),
(2.6,2.8,2790.5,3107.0,0.0493,0.0496,0.0493,0.0496),
(2.6,2.8,3107.0,3455.0,0.0496,0.0501,0.0496,0.0501),
(2.6,2.8,3455.0,3837.0,0.0501,0.0506,0.0501,0.0506),
(2.6,2.8,3837.0,4257.0,0.0506,0.0512,0.0506,0.0512),
(2.6,2.8,4257.0,4719.0,0.0512,0.0518,0.0512,0.0518),
(2.6,2.8,4719.0,5226.5,0.0518,0.0524,0.0518,0.0524),
(2.6,2.8,5226.5,5784.0,0.0524,0.053,0.0524,0.053),
(2.6,2.8,5784.0,6538.0,0.053,0.0861,0.053,0.0861),
(2.6,2.8,6538.0,1e+18,0.0861,0.0861,0.0861,0.0861),
(2.8,3.0,-1e+18,9.0,0.0949,0.0949,0.0949,0.0949),
(2.8,3.0,9.0,11.0,0.0949,0.0792,0.0949,0.0792),
(2.8,3.0,11.0,13.5,0.0792,0.0657,0.0792,0.0657),
(2.8,3.0,13.5,16.5,0.0657,0.0565,0.0657,0.0565),
(2.8,3.0,16.5,19.5,0.0565,0.048,0.0565,0.048),
(2.8,3.0,19.5,22.5,0.048,0.0464,0.048,0.0464),
(2.8,3.0,22.5,26.0,0.0464,0.043,0.0464,0.043),
(2.8,3.0,26.0,30.0,0.043,0.0411,0.043,0.0411),
(2.8,3.0,30.0,34.5,0.0411,0.0369,0.0411,0.0369),
(2.8,3.0,34.5,40.0,0.0369,0.0396,0.0369,0.0396),
(2.8,3.0,40.0,46.0,0.0396,0.0365,0.0396,0.0365),
(2.8,3.0,46.0,52.5,0.0365,0.0358,0.0365,0.0358),
(2.8,3.0,52.5,60.0,0.0358,0.0359,0.0358,0.0359),
(2.8,3.0,60.0,69.0,0.0359,0.0367,0.0359,0.0367),
(2.8,3.0,69.0,79.0,0.0367,0.0375,0.0367,0.0375),
(2.8,3.0,79.0,90.5,0.0375,0.0393,0.0375,0.0393),
(2.8,3.0,90.5,105.5,0.0393,0.0402,0.0393,0.0402),
(2.8,3.0,105.5,123.5,0.0402,0.0414,0.0402,0.0414),
(2.8,3.0,123.5,143.0,0.0414,0.0424,0.0414,0.0424),
(2.8,3.0,143.0,163.5,0.0424,0.0445,0.0424,0.0445),
(2.8,3.0,163.5,185.0,0.0445,0.0454,0.0445,0.0454),
(2.8,3.0,185.0,208.0,0.0454,0.0472,0.0454,0.0472),
(2.8,3.0,208.0,232.5,0.0472,0.0492,0.0472,0.0492),
(2.8,3.0,232.5,258.5,0.0492,0.0515,0.0492,0.0515),
(2.8,3.0,258.5,286.0,0.0515,0.0539,0.0515,0.0539),
(2.8,3.0,286.0,331.0,0.0539,0.0596,0.0539,0.0596),
(2.8,3.0,331.0,396.0,0.0596,0.0561,0.0596,0.0561),
(2.8,3.0,396.0,468.5,0.0561,0.0559,0.0561,0.0559),
(2.8,3.0,468.5,549.5,0.0559,0.0582,0.0559,0.0582),
(2.8,3.0,549.5,639.0,0.0582,0.0582,0.0582,0.0582),
(2.8,3.0,639.0,738.0,0.0582,0.0584,0.0582,0.0584),
(2.8,3.0,738.0,847.5,0.0584,0.0585,0.0584,0.0585),
(2.8,3.0,847.5,968.5,0.0585,0.0587,0.0585,0.0587),
(2.8,3.0,968.5,1102.0,0.0587,0.0589,0.0587,0.0589),
(2.8,3.0,1102.0,1249.5,0.0589,0.0591,0.0589,0.0591),
(2.8,3.0,1249.5,1412.0,0.0591,0.0593,0.0591,0.0593),
(2.8,3.0,1412.0,1590.5,0.0593,0.0595,0.0593,0.0595),
(2.8,3.0,1590.5,1787.0,0.0595,0.0597,0.0595,0.0597),
(2.8,3.0,1787.0,2003.0,0.0597,0.0599,0.0597,0.0599),
(2.8,3.0,2003.0,2241.0,0.0599,0.0601,0.0599,0.0601),
(2.8,3.0,2241.0,2503.0,0.0601,0.0604,0.0601,0.0604),
(2.8,3.0,2503.0,2790.5,0.0604,0.0606,0.0604,0.0606),
(2.8,3.0,2790.5,3107.0,0.0606,0.0609,0.0606,0.0609),
(2.8,3.0,3107.0,3455.0,0.0609,0.0612,0.0609,0.0612),
(2.8,3.0,3455.0,3837.0,0.0612,0.0616,0.0612,0.0616),
(2.8,3.0,3837.0,4257.0,0.0616,0.062,0.0616,0.062),
(2.8,3.0,4257.0,4719.0,0.062,0.0624,0.062,0.0624),
(2.8,3.0,4719.0,5226.5,0.0624,0.0628,0.0624,0.0628),
(2.8,3.0,5226.5,5784.0,0.0628,0.0817,0.0628,0.0817),
(2.8,3.0,5784.0,6538.0,0.0817,0.1452,0.0817,0.1452),
(2.8,3.0,6538.0,1e+18,0.1452,0.1452,0.1452,0.1452),
(3.0,3.5,-1e+18,9.0,0.1275,0.1275,0.1275,0.1275),
(3.0,3.5,9.0,11.0,0.1275,0.1081,0.1275,0.1081),
(3.0,3.5,11.0,13.5,0.1081,0.0902,0.1081,0.0902),
(3.0,3.5,13.5,16.5,0.0902,0.0753,0.0902,0.0753),
(3.0,3.5,16.5,19.5,0.0753,0.0648,0.0753,0.0648),
(3.0,3.5,19.5,22.5,0.0648,0.0574,0.0648,0.0574),
(3.0,3.5,22.5,26.0,0.0574,0.0513,0.0574,0.0513),
(3.0,3.5,26.0,30.0,0.0513,0.0476,0.0513,0.0476),
(3.0,3.5,30.0,34.5,0.0476,0.0442,0.0476,0.0442),
(3.0,3.5,34.5,40.0,0.0442,0.0415,0.0442,0.0415),
(3.0,3.5,40.0,46.0,0.0415,0.0395,0.0415,0.0395),
(3.0,3.5,46.0,52.5,0.0395,0.0381,0.0395,0.0381),
(3.0,3.5,52.5,60.0,0.0381,0.037,0.0381,0.037),
(3.0,3.5,60.0,69.0,0.037,0.0359,0.037,0.0359),
(3.0,3.5,69.0,79.0,0.0359,0.0351,0.0359,0.0351),
(3.0,3.5,79.0,90.5,0.0351,0.0345,0.0351,0.0345),
(3.0,3.5,90.5,105.5,0.0345,0.0339,0.0345,0.0339),
(3.0,3.5,105.5,123.5,0.0339,0.0336,0.0339,0.0336),
(3.0,3.5,123.5,143.0,0.0336,0.0333,0.0336,0.0333),
(3.0,3.5,143.0,163.5,0.0333,0.0332,0.0333,0.0332),
(3.0,3.5,163.5,185.0,0.0332,0.0331,0.0332,0.0331),
(3.0,3.5,185.0,208.0,0.0331,0.0332,0.0331,0.0332),
(3.0,3.5,208.0,232.5,0.0332,0.0332,0.0332,0.0332),
(3.0,3.5,232.5,258.5,0.0332,0.0334,0.0332,0.0334),
(3.0,3.5,258.5,286.0,0.0334,0.0335,0.0334,0.0335),
(3.0,3.5,286.0,331.0,0.0335,0.0338,0.0335,0.0338),
(3.0,3.5,331.0,396.0,0.0338,0.0342,0.0338,0.0342),
(3.0,3.5,396.0,468.5,0.0342,0.0348,0.0342,0.0348),
(3.0,3.5,468.5,549.5,0.0348,0.0352,0.0348,0.0352),
(3.0,3.5,549.5,639.0,0.0352,0.0351,0.0352,0.0351),
(3.0,3.5,639.0,738.0,0.0351,0.0352,0.0351,0.0352),
(3.0,3.5,738.0,847.5,0.0352,0.0353,0.0352,0.0353),
(3.0,3.5,847.5,968.5,0.0353,0.0354,0.0353,0.0354),
(3.0,3.5,968.5,1102.0,0.0354,0.0355,0.0354,0.0355),
(3.0,3.5,1102.0,1249.5,0.0355,0.0356,0.0355,0.0356),
(3.0,3.5,1249.5,1412.0,0.0356,0.0357,0.0356,0.0357),
(3.0,3.5,1412.0,1590.5,0.0357,0.0359,0.0357,0.0359),
(3.0,3.5,1590.5,1787.0,0.0359,0.036,0.0359,0.036),
(3.0,3.5,1787.0,2003.0,0.036,0.0361,0.036,0.0361),
(3.0,3.5,2003.0,2241.0,0.0361,0.0362,0.0361,0.0362),
(3.0,3.5,2241.0,2503.0,0.0362,0.0364,0.0362,0.0364),
(3.0,3.5,2503.0,2790.5,0.0364,0.0365,0.0364,0.0365),
(3.0,3.5,2790.5,3107.0,0.0365,0.0366,0.0365,0.0366),
(3.0,3.5,3107.0,3455.0,0.0366,0.0367,0.0366,0.0367),
(3.0,3.5,3455.0,3837.0,0.0367,0.0369,0.0367,0.0369),
(3.0,3.5,3837.0,4257.0,0.0369,0.0371,0.0369,0.0371),
(3.0,3.5,4257.0,4719.0,0.0371,0.0373,0.0371,0.0373),
(3.0,3.5,4719.0,5226.5,0.0373,0.0375,0.0373,0.0375),
(3.0,3.5,5226.5,5784.0,0.0375,0.0376,0.0375,0.0376),
(3.0,3.5,5784.0,6538.0,0.0376,0.0378,0.0376,0.0378),
(3.0,3.5,6538.0,1e+18,0.0378,0.0378,0.0378,0.0378),
(3.5,4.0,-1e+18,9.0,0.1407,0.1407,0.1407,0.1407),
(3.5,4.0,9.0,11.0,0.1407,0.1189,0.1407,0.1189),
(3.5,4.0,11.0,13.5,0.1189,0.0999,0.1189,0.0999),
(3.5,4.0,13.5,16.5,0.0999,0.0846,0.0999,0.0846),
(3.5,4.0,16.5,19.5,0.0846,0.0744,0.0846,0.0744),
(3.5,4.0,19.5,22.5,0.0744,0.0673,0.0744,0.0673),
(3.5,4.0,22.5,26.0,0.0673,0.0615,0.0673,0.0615),
(3.5,4.0,26.0,30.0,0.0615,0.0576,0.0615,0.0576),
(3.5,4.0,30.0,34.5,0.0576,0.053,0.0576,0.053),
(3.5,4.0,34.5,40.0,0.053,0.0487,0.053,0.0487),
(3.5,4.0,40.0,46.0,0.0487,0.0451,0.0487,0.0451),
(3.5,4.0,46.0,52.5,0.0451,0.0422,0.0451,0.0422),
(3.5,4.0,52.5,60.0,0.0422,0.0396,0.0422,0.0396),
(3.5,4.0,60.0,69.0,0.0396,0.0365,0.0396,0.0365),
(3.5,4.0,69.0,79.0,0.0365,0.0339,0.0365,0.0339),
(3.5,4.0,79.0,90.5,0.0339,0.0318,0.0339,0.0318),
(3.5,4.0,90.5,105.5,0.0318,0.0299,0.0318,0.0299),
(3.5,4.0,105.5,123.5,0.0299,0.0287,0.0299,0.0287),
(3.5,4.0,123.5,143.0,0.0287,0.0282,0.0287,0.0282),
(3.5,4.0,143.0,163.5,0.0282,0.0283,0.0282,0.0283),
(3.5,4.0,163.5,185.0,0.0283,0.0289,0.0283,0.0289),
(3.5,4.0,185.0,208.0,0.0289,0.0297,0.0289,0.0297),
(3.5,4.0,208.0,232.5,0.0297,0.0307,0.0297,0.0307),
(3.5,4.0,232.5,258.5,0.0307,0.0318,0.0307,0.0318),
(3.5,4.0,258.5,286.0,0.0318,0.033,0.0318,0.033),
(3.5,4.0,286.0,331.0,0.033,0.035,0.033,0.035),
(3.5,4.0,331.0,396.0,0.035,0.0358,0.035,0.0358),
(3.5,4.0,396.0,468.5,0.0358,0.0358,0.0358,0.0358),
(3.5,4.0,468.5,549.5,0.0358,0.0358,0.0358,0.0358),
(3.5,4.0,549.5,639.0,0.0358,0.0358,0.0358,0.0358),
(3.5,4.0,639.0,738.0,0.0358,0.0359,0.0358,0.0359),
(3.5,4.0,738.0,847.5,0.0359,0.036,0.0359,0.036),
(3.5,4.0,847.5,968.5,0.036,0.0361,0.036,0.0361),
(3.5,4.0,968.5,1102.0,0.0361,0.0362,0.0361,0.0362),
(3.5,4.0,1102.0,1249.5,0.0362,0.0363,0.0362,0.0363),
(3.5,4.0,1249.5,1412.0,0.0363,0.0365,0.0363,0.0365),
(3.5,4.0,1412.0,1590.5,0.0365,0.0366,0.0365,0.0366),
(3.5,4.0,1590.5,1787.0,0.0366,0.0367,0.0366,0.0367),
(3.5,4.0,1787.0,2003.0,0.0367,0.0369,0.0367,0.0369),
(3.5,4.0,2003.0,2241.0,0.0369,0.0371,0.0369,0.0371),
(3.5,4.0,2241.0,2503.0,0.0371,0.0372,0.0371,0.0372),
(3.5,4.0,2503.0,2790.5,0.0372,0.0374,0.0372,0.0374),
(3.5,4.0,2790.5,3107.0,0.0374,0.0376,0.0374,0.0376),
(3.5,4.0,3107.0,3455.0,0.0376,0.0378,0.0376,0.0378),
(3.5,4.0,3455.0,3837.0,0.0378,0.0379,0.0378,0.0379),
(3.5,4.0,3837.0,4257.0,0.0379,0.038,0.0379,0.038),
(3.5,4.0,4257.0,4719.0,0.038,0.0381,0.038,0.0381),
(3.5,4.0,4719.0,5226.5,0.0381,0.0383,0.0381,0.0383),
(3.5,4.0,5226.5,5784.0,0.0383,0.0384,0.0383,0.0384),
(3.5,4.0,5784.0,6538.0,0.0384,0.0386,0.0384,0.0386),
(3.5,4.0,6538.0,1e+18,0.0386,0.0386,0.0386,0.0386),
(4.0,4.4,-1e+18,9.0,0.1401,0.1401,0.1401,0.1401),
(4.0,4.4,9.0,11.0,0.1401,0.122,0.1401,0.122),
(4.0,4.4,11.0,13.5,0.122,0.1067,0.122,0.1067),
(4.0,4.4,13.5,16.5,0.1067,0.095,0.1067,0.095),
(4.0,4.4,16.5,19.5,0.095,0.0878,0.095,0.0878),
(4.0,4.4,19.5,22.5,0.0878,0.083,0.0878,0.083),
(4.0,4.4,22.5,26.0,0.083,0.0792,0.083,0.0792),
(4.0,4.4,26.0,30.0,0.0792,0.0767,0.0792,0.0767),
(4.0,4.4,30.0,34.5,0.0767,0.0736,0.0767,0.0736),
(4.0,4.4,34.5,40.0,0.0736,0.0707,0.0736,0.0707),
(4.0,4.4,40.0,46.0,0.0707,0.0684,0.0707,0.0684),
(4.0,4.4,46.0,52.5,0.0684,0.0664,0.0684,0.0664),
(4.0,4.4,52.5,60.0,0.0664,0.0648,0.0664,0.0648),
(4.0,4.4,60.0,69.0,0.0648,0.0635,0.0648,0.0635),
(4.0,4.4,69.0,79.0,0.0635,0.0624,0.0635,0.0624),
(4.0,4.4,79.0,90.5,0.0624,0.0615,0.0624,0.0615),
(4.0,4.4,90.5,105.5,0.0615,0.0608,0.0615,0.0608),
(4.0,4.4,105.5,123.5,0.0608,0.0603,0.0608,0.0603),
(4.0,4.4,123.5,143.0,0.0603,0.0601,0.0603,0.0601),
(4.0,4.4,143.0,163.5,0.0601,0.0603,0.0601,0.0603),
(4.0,4.4,163.5,185.0,0.0603,0.0607,0.0603,0.0607),
(4.0,4.4,185.0,208.0,0.0607,0.0611,0.0607,0.0611),
(4.0,4.4,208.0,232.5,0.0611,0.0615,0.0611,0.0615),
(4.0,4.4,232.5,258.5,0.0615,0.0613,0.0615,0.0613),
(4.0,4.4,258.5,286.0,0.0613,0.0614,0.0613,0.0614),
(4.0,4.4,286.0,331.0,0.0614,0.0614,0.0614,0.0614),
(4.0,4.4,331.0,396.0,0.0614,0.0615,0.0614,0.0615),
(4.0,4.4,396.0,468.5,0.0615,0.0617,0.0615,0.0617),
(4.0,4.4,468.5,549.5,0.0617,0.0619,0.0617,0.0619),
(4.0,4.4,549.5,639.0,0.0619,0.0622,0.0619,0.0622),
(4.0,4.4,639.0,738.0,0.0622,0.0625,0.0622,0.0625),
(4.0,4.4,738.0,847.5,0.0625,0.0628,0.0625,0.0628),
(4.0,4.4,847.5,968.5,0.0628,0.0632,0.0628,0.0632),
(4.0,4.4,968.5,1102.0,0.0632,0.0636,0.0632,0.0636),
(4.0,4.4,1102.0,1249.5,0.0636,0.064,0.0636,0.064),
(4.0,4.4,1249.5,1412.0,0.064,0.0645,0.064,0.0645),
(4.0,4.4,1412.0,1590.5,0.0645,0.0649,0.0645,0.0649),
(4.0,4.4,1590.5,1787.0,0.0649,0.0654,0.0649,0.0654),
(4.0,4.4,1787.0,2003.0,0.0654,0.0659,0.0654,0.0659),
(4.0,4.4,2003.0,2241.0,0.0659,0.0664,0.0659,0.0664),
(4.0,4.4,2241.0,2503.0,0.0664,0.0669,0.0664,0.0669),
(4.0,4.4,2503.0,2790.5,0.0669,0.0675,0.0669,0.0675),
(4.0,4.4,2790.5,3107.0,0.0675,0.0681,0.0675,0.0681),
(4.0,4.4,3107.0,3455.0,0.0681,0.0686,0.0681,0.0686),
(4.0,4.4,3455.0,3837.0,0.0686,0.0691,0.0686,0.0691),
(4.0,4.4,3837.0,4257.0,0.0691,0.0696,0.0691,0.0696),
(4.0,4.4,4257.0,4719.0,0.0696,0.0701,0.0696,0.0701),
(4.0,4.4,4719.0,5226.5,0.0701,0.0707,0.0701,0.0707),
(4.0,4.4,5226.5,5784.0,0.0707,0.0712,0.0707,0.0712),
(4.0,4.4,5784.0,6538.0,0.0712,0.0719,0.0712,0.0719),
(4.0,4.4,6538.0,1e+18,0.0719,0.0719,0.0719,0.0719),
(4.4,5.0,-1e+18,9.0,0.1052,0.1052,0.1052,0.1052),
(4.4,5.0,9.0,11.0,0.1052,0.0966,0.1052,0.0966),
(4.4,5.0,11.0,13.5,0.0966,0.0896,0.0966,0.0896),
(4.4,5.0,13.5,16.5,0.0896,0.0847,0.0896,0.0847),
(4.4,5.0,16.5,19.5,0.0847,0.0813,0.0847,0.0813),
(4.4,5.0,19.5,22.5,0.0813,0.0792,0.0813,0.0792),
(4.4,5.0,22.5,26.0,0.0792,0.0774,0.0792,0.0774),
(4.4,5.0,26.0,30.0,0.0774,0.0755,0.0774,0.0755),
(4.4,5.0,30.0,34.5,0.0755,0.0726,0.0755,0.0726),
(4.4,5.0,34.5,40.0,0.0726,0.0698,0.0726,0.0698),
(4.4,5.0,40.0,46.0,0.0698,0.0674,0.0698,0.0674),
(4.4,5.0,46.0,52.5,0.0674,0.0655,0.0674,0.0655),
(4.4,5.0,52.5,60.0,0.0655,0.064,0.0655,0.064),
(4.4,5.0,60.0,69.0,0.064,0.0628,0.064,0.0628),
(4.4,5.0,69.0,79.0,0.0628,0.0619,0.0628,0.0619),
(4.4,5.0,79.0,90.5,0.0619,0.0615,0.0619,0.0615),
(4.4,5.0,90.5,105.5,0.0615,0.0614,0.0615,0.0614),
(4.4,5.0,105.5,123.5,0.0614,0.0617,0.0614,0.0617),
(4.4,5.0,123.5,143.0,0.0617,0.0623,0.0617,0.0623),
(4.4,5.0,143.0,163.5,0.0623,0.0633,0.0623,0.0633),
(4.4,5.0,163.5,185.0,0.0633,0.0644,0.0633,0.0644),
(4.4,5.0,185.0,208.0,0.0644,0.0656,0.0644,0.0656),
(4.4,5.0,208.0,232.5,0.0656,0.0667,0.0656,0.0667),
(4.4,5.0,232.5,258.5,0.0667,0.0673,0.0667,0.0673),
(4.4,5.0,258.5,286.0,0.0673,0.068,0.0673,0.068),
(4.4,5.0,286.0,331.0,0.068,0.0691,0.068,0.0691),
(4.4,5.0,331.0,396.0,0.0691,0.0704,0.0691,0.0704),
(4.4,5.0,396.0,468.5,0.0704,0.0716,0.0704,0.0716),
(4.4,5.0,468.5,549.5,0.0716,0.0728,0.0716,0.0728),
(4.4,5.0,549.5,639.0,0.0728,0.0739,0.0728,0.0739),
(4.4,5.0,639.0,738.0,0.0739,0.075,0.0739,0.075),
(4.4,5.0,738.0,847.5,0.075,0.0761,0.075,0.0761),
(4.4,5.0,847.5,968.5,0.0761,0.0771,0.0761,0.0771),
(4.4,5.0,968.5,1102.0,0.0771,0.0781,0.0771,0.0781),
(4.4,5.0,1102.0,1249.5,0.0781,0.0791,0.0781,0.0791),
(4.4,5.0,1249.5,1412.0,0.0791,0.08,0.0791,0.08),
(4.4,5.0,1412.0,1590.5,0.08,0.0809,0.08,0.0809),
(4.4,5.0,1590.5,1787.0,0.0809,0.0818,0.0809,0.0818),
(4.4,5.0,1787.0,2003.0,0.0818,0.0827,0.0818,0.0827),
(4.4,5.0,2003.0,2241.0,0.0827,0.0836,0.0827,0.0836),
(4.4,5.0,2241.0,2503.0,0.0836,0.0844,0.0836,0.0844),
(4.4,5.0,2503.0,2790.5,0.0844,0.0853,0.0844,0.0853),
(4.4,5.0,2790.5,3107.0,0.0853,0.0861,0.0853,0.0861),
(4.4,5.0,3107.0,3455.0,0.0861,0.0869,0.0861,0.0869),
(4.4,5.0,3455.0,3837.0,0.0869,0.0879,0.0869,0.0879),
(4.4,5.0,3837.0,4257.0,0.0879,0.0889,0.0879,0.0889),
(4.4,5.0,4257.0,4719.0,0.0889,0.0899,0.0889,0.0899),
(4.4,5.0,4719.0,5226.5,0.0899,0.0908,0.0899,0.0908),
(4.4,5.0,5226.5,5784.0,0.0908,0.0917,0.0908,0.0917),
(4.4,5.0,5784.0,6538.0,0.0917,0.0928,0.0917,0.0928),
(4.4,5.0,6538.0,1e+18,0.0928,0.0928,0.0928,0.0928),
(5.0,5.4,-1e+18,9.0,0.1131,0.1131,0.1131,0.1131),
(5.0,5.4,9.0,11.0,0.1131,0.1022,0.1131,0.1022),
(5.0,5.4,11.0,13.5,0.1022,0.0934,0.1022,0.0934),
(5.0,5.4,13.5,16.5,0.0934,0.0871,0.0934,0.0871),
(5.0,5.4,16.5,19.5,0.0871,0.0832,0.0871,0.0832),
(5.0,5.4,19.5,22.5,0.0832,0.0806,0.0832,0.0806),
(5.0,5.4,22.5,26.0,0.0806,0.0784,0.0806,0.0784),
(5.0,5.4,26.0,30.0,0.0784,0.0762,0.0784,0.0762),
(5.0,5.4,30.0,34.5,0.0762,0.0731,0.0762,0.0731),
(5.0,5.4,34.5,40.0,0.0731,0.0701,0.0731,0.0701),
(5.0,5.4,40.0,46.0,0.0701,0.0681,0.0701,0.0681),
(5.0,5.4,46.0,52.5,0.0681,0.0657,0.0681,0.0657),
(5.0,5.4,52.5,60.0,0.0657,0.0644,0.0657,0.0644),
(5.0,5.4,60.0,69.0,0.0644,0.0628,0.0644,0.0628),
(5.0,5.4,69.0,79.0,0.0628,0.062,0.0628,0.062),
(5.0,5.4,79.0,90.5,0.062,0.0615,0.062,0.0615),
(5.0,5.4,90.5,105.5,0.0615,0.0614,0.0615,0.0614),
(5.0,5.4,105.5,123.5,0.0614,0.0616,0.0614,0.0616),
(5.0,5.4,123.5,143.0,0.0616,0.0623,0.0616,0.0623),
(5.0,5.4,143.0,163.5,0.0623,0.0633,0.0623,0.0633),
(5.0,5.4,163.5,185.0,0.0633,0.0644,0.0633,0.0644),
(5.0,5.4,185.0,208.0,0.0644,0.0656,0.0644,0.0656),
(5.0,5.4,208.0,232.5,0.0656,0.0667,0.0656,0.0667),
(5.0,5.4,232.5,258.5,0.0667,0.0673,0.0667,0.0673),
(5.0,5.4,258.5,286.0,0.0673,0.068,0.0673,0.068),
(5.0,5.4,286.0,331.0,0.068,0.069,0.068,0.069),
(5.0,5.4,331.0,396.0,0.069,0.0703,0.069,0.0703),
(5.0,5.4,396.0,468.5,0.0703,0.0716,0.0703,0.0716),
(5.0,5.4,468.5,549.5,0.0716,0.0728,0.0716,0.0728),
(5.0,5.4,549.5,639.0,0.0728,0.0739,0.0728,0.0739),
(5.0,5.4,639.0,738.0,0.0739,0.075,0.0739,0.075),
(5.0,5.4,738.0,847.5,0.075,0.0761,0.075,0.0761),
(5.0,5.4,847.5,968.5,0.0761,0.0771,0.0761,0.0771),
(5.0,5.4,968.5,1102.0,0.0771,0.0781,0.0771,0.0781),
(5.0,5.4,1102.0,1249.5,0.0781,0.0791,0.0781,0.0791),
(5.0,5.4,1249.5,1412.0,0.0791,0.08,0.0791,0.08),
(5.0,5.4,1412.0,1590.5,0.08,0.0809,0.08,0.0809),
(5.0,5.4,1590.5,1787.0,0.0809,0.0818,0.0809,0.0818),
(5.0,5.4,1787.0,2003.0,0.0818,0.0827,0.0818,0.0827),
(5.0,5.4,2003.0,2241.0,0.0827,0.0836,0.0827,0.0836),
(5.0,5.4,2241.0,2503.0,0.0836,0.0844,0.0836,0.0844),
(5.0,5.4,2503.0,2790.5,0.0844,0.0853,0.0844,0.0853),
(5.0,5.4,2790.5,3107.0,0.0853,0.0861,0.0853,0.0861),
(5.0,5.4,3107.0,3455.0,0.0861,0.0869,0.0861,0.0869),
(5.0,5.4,3455.0,3837.0,0.0869,0.0879,0.0869,0.0879),
(5.0,5.4,3837.0,4257.0,0.0879,0.0889,0.0879,0.0889),
(5.0,5.4,4257.0,4719.0,0.0889,0.0899,0.0889,0.0899),
(5.0,5.4,4719.0,5226.5,0.0899,0.0908,0.0899,0.0908),
(5.0,5.4,5226.5,5784.0,0.0908,0.0917,0.0908,0.0917),
(5.0,5.4,5784.0,6538.0,0.0917,0.0928,0.0917,0.0928),
(5.0,5.4,6538.0,1e+18,0.0928,0.0928,0.0928,0.0928)""").mkString("\n")
  private val l17Sql =
    s"""WITH raw(eta_lo, eta_hi, x0, x1, u0, u1, d0, d1) AS (VALUES
      |$juncValuesLiteral),
      |segs AS (
      | SELECT CAST(eta_lo AS DOUBLE) AS eta_lo, CAST(eta_hi AS DOUBLE) AS eta_hi,
      |  CAST(x0 AS DOUBLE) AS x0, CAST(x1 AS DOUBLE) AS x1,
      |  CAST(u0 AS DOUBLE) AS u0, CAST(u1 AS DOUBLE) AS u1,
      |  CAST(d0 AS DOUBLE) AS d0, CAST(d1 AS DOUBLE) AS d1
      | FROM raw),
      |jets AS (
      | SELECT l_extendedprice / 1000.0 AS pt, l_discount * 104.0 - 5.2 AS eta
      | FROM lineitem)
      |SELECT eta_lo, COUNT(*) AS n_jets,
      | CAST(SUM(CAST(FLOOR($l17Up * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS up_nano_sum,
      | CAST(SUM(CAST(FLOOR($l17Dn * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS dn_nano_sum
      |FROM jets JOIN segs
      |  ON eta >= eta_lo AND eta < eta_hi AND pt >= x0 AND pt < x1
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- l18: Rochester M/A grid from the reference's real RoccoR file --------
  // The reference's muon momentum-scale input is the RoccoR text file
  // (data/roch_corr/RoccoR2018.txt, wired in config/parameters.py and
  // applied by stage1's rochester correction; l07 models the BRANCHING
  // logic with a synthetic table — this reads the REAL grid). Set-0
  // member-0 C rows carry `typ var etaBin` + 16 phi values, with
  // TYPE 0=MC / 1=DATA (RoccoR's `enum TYPE {MC, DT}`) and var 0=M /
  // 1=A. The field order is established empirically: the var=1 grids
  // are pt-scale (rms 2.0e-3 / 6.5e-3 — A coefficients multiply pt)
  // while var=0 grids are percent-scale (rms 0.12 / 0.24), and the F
  // rows' kRes confirm type-major ordering (kRes[0] < kRes[1], MC
  // resolution better than data). This query reads the DATA (typ=1)
  // M/A grid — the kScaleDT inputs; l22 reads the MC grid + resolution
  // blocks for the kSpreadMC/kSmearMC branches. Engine semantics: the
  // public kScaleDT shape scale = 1 / (1 + (M + Q*A*pt)/100) over the
  // percent-scale grid (the deliverable is the keyed grid join +
  // formula; pt clamped to [20, 80) keeps the denominator provably
  // positive). Per-muon scales nano-quantize before the per-eta fold.
  // Oracle = independently parsed literal grid + identical replay.
  private[queries] val roccorCeta = Vector(-2.40, -2.10, -1.85, -1.60, -1.20,
    -0.80, -0.40, 0.00, 0.40, 0.80, 1.20, 1.60, 1.85, 2.10, 2.40)
  /** Set-0 member-0 (eta bin, phi bin) -> (M, A) grid for `typ`
    * (0=MC, 1=DATA). */
  private[queries] def roccorMa(typ: Int): Seq[(Double, Double, Int, Double, Double)] = {
    val m = scala.collection.mutable.Map.empty[(Int, Int), Double]
    val a = scala.collection.mutable.Map.empty[(Int, Int), Double]
    scala.io.Source.fromFile(refData("roch_corr/RoccoR2018.txt")).getLines()
      .foreach { line =>
        val t = line.trim.split("\\s+")
        if (t.length >= 22 && t(0) == "0" && t(1) == "0" && t(2) == "C" &&
            t(3) == typ.toString) {
          val grid = if (t(4) == "0") m else a
          val etab = t(5).toInt
          (0 until 16).foreach(p => grid((etab, p)) = t(6 + p).toDouble)
        }
      }
    m.keys.toSeq.sorted.map { case (e, p) =>
      (roccorCeta(e), roccorCeta(e + 1), p, m((e, p)), a((e, p)))
    }
  }
  private lazy val roccorGrid: Seq[(Double, Double, Int, Double, Double)] =
    roccorMa(1)
  private val l18Scale = "(1.0 / (1.0 + (m_coef + q * a_coef * pt) / 100.0))"
  private def l18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grid = roccorGrid.toDF("eta_lo", "eta_hi", "phi_bin", "m_coef", "a_coef")
    val mu = rd(s, dir, "lineitem")
      .select(
        expr("20.0 + (l_extendedprice % 600.0) / 10.0").as("pt"),
        (col("l_discount") * 48.0 - 2.4).as("eta"),
        expr("CAST(l_linenumber * 7 % 16 AS INT)").as("phi_bin"),
        expr("CAST(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE -1 END AS DOUBLE)").as("q"))
    mu.join(broadcast(grid),
        mu("eta") >= grid("eta_lo") && mu("eta") < grid("eta_hi") &&
          mu("phi_bin") === grid("phi_bin"))
      .select(col("eta_lo"),
        expr(s"CAST(FLOOR($l18Scale * 1e9 + 0.5) AS BIGINT)").as("sq"))
      .groupBy(col("eta_lo"))
      .agg(count(lit(1)).as("n_mu"), sum(col("sq")).as("scale_nano_sum"))
      .orderBy(col("eta_lo"))
  }
  private val l18Sql =
    s"""WITH rawg(eta_lo, eta_hi, phi_bin, m_coef, a_coef) AS (VALUES
      |(-2.4,-2.1,0,-0.3943172,0.0123697),
      |(-2.4,-2.1,1,-0.3647987,0.0090933),
      |(-2.4,-2.1,2,-0.2967662,0.0102386),
      |(-2.4,-2.1,3,-0.3151166,0.0030424),
      |(-2.4,-2.1,4,-0.3191996,0.0089222),
      |(-2.4,-2.1,5,-0.3467424,0.0032623),
      |(-2.4,-2.1,6,-0.3178745,-0.0088216),
      |(-2.4,-2.1,7,-0.3311446,-0.0087103),
      |(-2.4,-2.1,8,-0.3081199,-0.0071346),
      |(-2.4,-2.1,9,-0.3540307,-0.0119114),
      |(-2.4,-2.1,10,-0.4033593,-0.0069422),
      |(-2.4,-2.1,11,-0.4190536,-0.0156474),
      |(-2.4,-2.1,12,-0.4536226,-0.0058996),
      |(-2.4,-2.1,13,-0.4059521,-0.007364),
      |(-2.4,-2.1,14,-0.4276261,-0.0088635),
      |(-2.4,-2.1,15,-0.4329195,0.0020692),
      |(-2.1,-1.85,0,-0.2914228,0.0031048),
      |(-2.1,-1.85,1,-0.2883016,0.0104363),
      |(-2.1,-1.85,2,-0.2971595,0.0020797),
      |(-2.1,-1.85,3,-0.2778756,0.0030091),
      |(-2.1,-1.85,4,-0.2660167,-0.0035202),
      |(-2.1,-1.85,5,-0.2249823,-0.0079278),
      |(-2.1,-1.85,6,-0.2473886,-0.0125181),
      |(-2.1,-1.85,7,-0.2393581,-0.0088824),
      |(-2.1,-1.85,8,-0.2726147,-0.0075176),
      |(-2.1,-1.85,9,-0.2763773,-0.0008064),
      |(-2.1,-1.85,10,-0.2694329,0.0001489),
      |(-2.1,-1.85,11,-0.3494199,-0.0039593),
      |(-2.1,-1.85,12,-0.3547668,-0.0046861),
      |(-2.1,-1.85,13,-0.3393301,-0.0126026),
      |(-2.1,-1.85,14,-0.3689987,-0.0159327),
      |(-2.1,-1.85,15,-0.3475546,-0.0057505),
      |(-1.85,-1.6,0,-0.3117156,-0.0009669),
      |(-1.85,-1.6,1,-0.2934207,0.0070965),
      |(-1.85,-1.6,2,-0.2844961,0.0042239),
      |(-1.85,-1.6,3,-0.2583286,0.0007853),
      |(-1.85,-1.6,4,-0.2293409,-0.0031782),
      |(-1.85,-1.6,5,-0.2415554,-0.0085637),
      |(-1.85,-1.6,6,-0.2163206,-0.0101747),
      |(-1.85,-1.6,7,-0.2142413,-0.0053277),
      |(-1.85,-1.6,8,-0.2198954,-0.0043391),
      |(-1.85,-1.6,9,-0.2095867,0.000191),
      |(-1.85,-1.6,10,-0.2311216,0.0004383),
      |(-1.85,-1.6,11,-0.2983053,-0.0027855),
      |(-1.85,-1.6,12,-0.2963924,-0.002858),
      |(-1.85,-1.6,13,-0.2717364,-0.0057676),
      |(-1.85,-1.6,14,-0.3047854,-0.0141029),
      |(-1.85,-1.6,15,-0.2947267,-0.0057814),
      |(-1.6,-1.2,0,-0.2691,-0.0020334),
      |(-1.6,-1.2,1,-0.2241576,0.0033219),
      |(-1.6,-1.2,2,-0.2298007,0.0010878),
      |(-1.6,-1.2,3,-0.22227,-0.0024852),
      |(-1.6,-1.2,4,-0.1989377,-0.0044649),
      |(-1.6,-1.2,5,-0.2091251,-0.0078861),
      |(-1.6,-1.2,6,-0.1914919,-0.0095863),
      |(-1.6,-1.2,7,-0.1996026,-0.0060953),
      |(-1.6,-1.2,8,-0.1806376,-0.0019678),
      |(-1.6,-1.2,9,-0.2203891,0.0012322),
      |(-1.6,-1.2,10,-0.2236075,-0.0011437),
      |(-1.6,-1.2,11,-0.260166,-0.0028157),
      |(-1.6,-1.2,12,-0.2732608,0.0005362),
      |(-1.6,-1.2,13,-0.2497704,-0.0040398),
      |(-1.6,-1.2,14,-0.2627378,-0.0075503),
      |(-1.6,-1.2,15,-0.246869,-0.0057348),
      |(-1.2,-0.8,0,-0.172921,-2.27e-05),
      |(-1.2,-0.8,1,-0.15941,0.0020821),
      |(-1.2,-0.8,2,-0.1591986,-0.0002104),
      |(-1.2,-0.8,3,-0.1344946,-0.0023298),
      |(-1.2,-0.8,4,-0.1389379,-0.0028937),
      |(-1.2,-0.8,5,-0.1469557,-0.0052645),
      |(-1.2,-0.8,6,-0.1460793,-0.0059434),
      |(-1.2,-0.8,7,-0.1599384,-0.0041129),
      |(-1.2,-0.8,8,-0.1422913,-0.0004311),
      |(-1.2,-0.8,9,-0.1480503,-0.0002356),
      |(-1.2,-0.8,10,-0.1615674,-0.0002322),
      |(-1.2,-0.8,11,-0.1758571,-9.21e-05),
      |(-1.2,-0.8,12,-0.1771236,0.0007652),
      |(-1.2,-0.8,13,-0.1860441,-0.0007383),
      |(-1.2,-0.8,14,-0.1673069,-0.0026472),
      |(-1.2,-0.8,15,-0.1591932,-0.0022521),
      |(-0.8,-0.4,0,-0.1400004,0.0020053),
      |(-0.8,-0.4,1,-0.1183301,0.0022825),
      |(-0.8,-0.4,2,-0.1408142,-1.71e-05),
      |(-0.8,-0.4,3,-0.1411655,-0.0011947),
      |(-0.8,-0.4,4,-0.1143091,-0.0012937),
      |(-0.8,-0.4,5,-0.1277843,-0.0024725),
      |(-0.8,-0.4,6,-0.1271852,-0.0041738),
      |(-0.8,-0.4,7,-0.1383138,-0.0032807),
      |(-0.8,-0.4,8,-0.1325151,-0.0012155),
      |(-0.8,-0.4,9,-0.1364731,-0.0016602),
      |(-0.8,-0.4,10,-0.1275373,-0.0013946),
      |(-0.8,-0.4,11,-0.1507686,-0.0001304),
      |(-0.8,-0.4,12,-0.1587813,0.0025204),
      |(-0.8,-0.4,13,-0.1692573,0.0034828),
      |(-0.8,-0.4,14,-0.1347854,0.0026743),
      |(-0.8,-0.4,15,-0.1476415,0.0010967),
      |(-0.4,0.0,0,-0.1128017,0.0028629),
      |(-0.4,0.0,1,-0.1183701,0.0019608),
      |(-0.4,0.0,2,-0.1207382,-0.0001593),
      |(-0.4,0.0,3,-0.1150316,-0.0006657),
      |(-0.4,0.0,4,-0.1057801,-0.001863),
      |(-0.4,0.0,5,-0.124931,-0.0023448),
      |(-0.4,0.0,6,-0.1064928,-0.0037727),
      |(-0.4,0.0,7,-0.1160167,-0.0043037),
      |(-0.4,0.0,8,-0.1224061,-0.0017517),
      |(-0.4,0.0,9,-0.1250172,-0.0029077),
      |(-0.4,0.0,10,-0.1297037,-0.0021654),
      |(-0.4,0.0,11,-0.1307089,0.000166),
      |(-0.4,0.0,12,-0.1276146,0.0019176),
      |(-0.4,0.0,13,-0.134863,0.0045838),
      |(-0.4,0.0,14,-0.1273003,0.0046764),
      |(-0.4,0.0,15,-0.1087228,0.0020205),
      |(0.0,0.4,0,-0.1173566,0.0042004),
      |(0.0,0.4,1,-0.1127002,0.0027473),
      |(0.0,0.4,2,-0.1183981,-2.98e-05),
      |(0.0,0.4,3,-0.1156583,-0.0009208),
      |(0.0,0.4,4,-0.1238896,-0.0023475),
      |(0.0,0.4,5,-0.1176134,-0.0025052),
      |(0.0,0.4,6,-0.118177,-0.0044584),
      |(0.0,0.4,7,-0.1408318,-0.0043114),
      |(0.0,0.4,8,-0.1245845,-0.0020114),
      |(0.0,0.4,9,-0.1229355,-0.0030976),
      |(0.0,0.4,10,-0.1188049,-0.0025432),
      |(0.0,0.4,11,-0.1400963,0.0003531),
      |(0.0,0.4,12,-0.1465246,0.0013191),
      |(0.0,0.4,13,-0.1446419,0.0043066),
      |(0.0,0.4,14,-0.1233038,0.0042293),
      |(0.0,0.4,15,-0.120292,0.003788),
      |(0.4,0.8,0,-0.1403784,0.0047233),
      |(0.4,0.8,1,-0.1224634,0.0035082),
      |(0.4,0.8,2,-0.1229483,0.0013056),
      |(0.4,0.8,3,-0.1300387,-0.0001609),
      |(0.4,0.8,4,-0.1172534,-0.0022199),
      |(0.4,0.8,5,-0.1298478,-0.0024423),
      |(0.4,0.8,6,-0.1309128,-0.003109),
      |(0.4,0.8,7,-0.123074,-0.0014855),
      |(0.4,0.8,8,-0.1413489,-0.0001137),
      |(0.4,0.8,9,-0.1281599,-0.0015303),
      |(0.4,0.8,10,-0.1173162,-0.0023881),
      |(0.4,0.8,11,-0.1518495,-0.000403),
      |(0.4,0.8,12,-0.1350791,0.0011823),
      |(0.4,0.8,13,-0.1333318,0.0030387),
      |(0.4,0.8,14,-0.1292232,0.0040511),
      |(0.4,0.8,15,-0.1171948,0.0035274),
      |(0.8,1.2,0,-0.1557505,0.0051243),
      |(0.8,1.2,1,-0.1253217,0.0059804),
      |(0.8,1.2,2,-0.1612105,0.0044205),
      |(0.8,1.2,3,-0.1494037,0.0026747),
      |(0.8,1.2,4,-0.1457355,-0.0022854),
      |(0.8,1.2,5,-0.1502825,-0.0030277),
      |(0.8,1.2,6,-0.1667148,-0.0018373),
      |(0.8,1.2,7,-0.1696358,0.0015906),
      |(0.8,1.2,8,-0.1726806,0.0030064),
      |(0.8,1.2,9,-0.1677726,0.0022551),
      |(0.8,1.2,10,-0.1663848,-0.0007204),
      |(0.8,1.2,11,-0.1911496,-8.17e-05),
      |(0.8,1.2,12,-0.1715049,0.0025667),
      |(0.8,1.2,13,-0.16075,0.0023974),
      |(0.8,1.2,14,-0.1496677,0.0026947),
      |(0.8,1.2,15,-0.1433017,0.00264),
      |(1.2,1.6,0,-0.2085496,0.0030006),
      |(1.2,1.6,1,-0.2425876,0.0079106),
      |(1.2,1.6,2,-0.225498,0.0056523),
      |(1.2,1.6,3,-0.2319506,0.0037449),
      |(1.2,1.6,4,-0.23038,0.0012124),
      |(1.2,1.6,5,-0.2158955,-0.003068),
      |(1.2,1.6,6,-0.2121076,-0.0016001),
      |(1.2,1.6,7,-0.258876,0.0032278),
      |(1.2,1.6,8,-0.2387416,0.0073672),
      |(1.2,1.6,9,-0.2594528,0.009481),
      |(1.2,1.6,10,-0.2329554,0.0065173),
      |(1.2,1.6,11,-0.2524499,0.0043694),
      |(1.2,1.6,12,-0.254606,0.006122),
      |(1.2,1.6,13,-0.2201438,0.0009302),
      |(1.2,1.6,14,-0.232801,0.0002319),
      |(1.2,1.6,15,-0.2145387,0.000949),
      |(1.6,1.85,0,-0.2734895,0.0062921),
      |(1.6,1.85,1,-0.2597526,0.0100446),
      |(1.6,1.85,2,-0.2275434,0.0053761),
      |(1.6,1.85,3,-0.2443202,0.0019662),
      |(1.6,1.85,4,-0.2411263,0.0026704),
      |(1.6,1.85,5,-0.2243986,0.0018745),
      |(1.6,1.85,6,-0.248931,0.0020132),
      |(1.6,1.85,7,-0.2676926,0.0076152),
      |(1.6,1.85,8,-0.2896352,0.0128419),
      |(1.6,1.85,9,-0.2674674,0.0193569),
      |(1.6,1.85,10,-0.2896436,0.0151913),
      |(1.6,1.85,11,-0.2848454,0.0143303),
      |(1.6,1.85,12,-0.2342191,0.0086315),
      |(1.6,1.85,13,-0.2471978,0.0016722),
      |(1.6,1.85,14,-0.2662728,0.000618),
      |(1.6,1.85,15,-0.2522798,0.0054154),
      |(1.85,2.1,0,-0.2615901,0.0017896),
      |(1.85,2.1,1,-0.3007341,0.0065006),
      |(1.85,2.1,2,-0.2694,0.0034219),
      |(1.85,2.1,3,-0.2651296,-0.0016344),
      |(1.85,2.1,4,-0.2862851,-0.0024139),
      |(1.85,2.1,5,-0.2538667,-0.0010589),
      |(1.85,2.1,6,-0.2909917,0.0035616),
      |(1.85,2.1,7,-0.281666,0.0099316),
      |(1.85,2.1,8,-0.3463091,0.0148401),
      |(1.85,2.1,9,-0.3366127,0.0184313),
      |(1.85,2.1,10,-0.3320735,0.0178013),
      |(1.85,2.1,11,-0.3129969,0.0125941),
      |(1.85,2.1,12,-0.249071,0.0088485),
      |(1.85,2.1,13,-0.2598199,0.0022454),
      |(1.85,2.1,14,-0.2676035,-0.0031472),
      |(1.85,2.1,15,-0.2729061,-0.0001647),
      |(2.1,2.4,0,-0.3609235,-0.0014656),
      |(2.1,2.4,1,-0.3394269,9.35e-05),
      |(2.1,2.4,2,-0.3354259,-0.0019572),
      |(2.1,2.4,3,-0.3252149,-0.0073266),
      |(2.1,2.4,4,-0.3245676,0.0025046),
      |(2.1,2.4,5,-0.3171898,0.0120843),
      |(2.1,2.4,6,-0.3693177,0.0183341),
      |(2.1,2.4,7,-0.3654065,0.0269857),
      |(2.1,2.4,8,-0.4229803,0.0230667),
      |(2.1,2.4,9,-0.3986385,0.0139884),
      |(2.1,2.4,10,-0.4116192,0.0158642),
      |(2.1,2.4,11,-0.4006676,0.0085339),
      |(2.1,2.4,12,-0.3804421,0.010579),
      |(2.1,2.4,13,-0.3684232,0.0046953),
      |(2.1,2.4,14,-0.3688205,-0.001663),
      |(2.1,2.4,15,-0.3587189,-0.0039557)),
      |grid AS (
      | SELECT CAST(eta_lo AS DOUBLE) AS eta_lo, CAST(eta_hi AS DOUBLE) AS eta_hi,
      |  phi_bin, CAST(m_coef AS DOUBLE) AS m_coef, CAST(a_coef AS DOUBLE) AS a_coef
      | FROM rawg),
      |mu AS (
      | SELECT 20.0 + (l_extendedprice % 600.0) / 10.0 AS pt,
      |  l_discount * 48.0 - 2.4 AS eta,
      |  CAST(l_linenumber * 7 % 16 AS INT) AS phi_bin,
      |  CAST(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE -1 END AS DOUBLE) AS q
      | FROM lineitem)
      |SELECT eta_lo, COUNT(*) AS n_mu,
      | CAST(SUM(CAST(FLOOR($l18Scale * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
      |  AS scale_nano_sum
      |FROM mu JOIN grid
      |  ON eta >= eta_lo AND eta < eta_hi AND mu.phi_bin = grid.phi_bin
      |GROUP BY 1 ORDER BY 1""".stripMargin


  // ---- l22: Rochester MC branches from the real RoccoR file ----------------
  // The reference's MC path (stage1/corrections/rochester.py:5-28)
  // splits muons on gen-matching: matched muons get kSpreadMC(Q, pt,
  // eta, phi, genpt); unmatched get kSmearMC(Q, pt, eta, phi,
  // nTrackerLayers, rand). This reads every real coefficient family
  // those branches consume from RoccoR2018.txt: the MC (typ=0) M/A
  // 14x16 grid (kScaleMC), the F rows' kRes[MC]/kRes[DATA] per |eta|
  // bin (spread target), and the R rows' rsPar0-2 13-trk-layer-bin
  // resolution polynomials (smear width). Engine semantics (the public
  // RoccoR shapes, spelled identically in both engines):
  //   kScaleMC  = 1 / (1 + (M + Q*A*pt)/100)
  //   kSpreadMC = kScaleMC * x / (1 + (x-1)*kDat/kMC), x = genpt/ptc
  //   sigma     = rs0 + rs1*dpt + rs2*dpt^2, dpt = ptc - 45
  //   kSmearMC  = kScaleMC * (1 + sigma*sqrt(max(kDat^2/kMC^2 - 1, 0))*z)
  // with z a SEEDED deterministic unit-variance draw z = (u-0.5)*
  // sqrt(12), u a per-muon integer hash — the documented substitution
  // for the reference's UNSEEDED np.random.rand (SURVEY 7.4 flags that
  // nondeterminism as a reproducibility hazard; the port pins seeds by
  // design). Plan: one broadcast equi join on (eta idx, phi bin) for
  // the grid; kRes/rsPar enter as literal arrays via element_at — no
  // further joins, pure projection, then the tiny (eta, branch) fold.
  private val roccorReta = Vector(0.00, 0.40, 0.80, 1.20, 1.60, 1.85, 2.10)
  /** (kRes[MC](retaBin), kRes[DATA](retaBin), rsPar(p)(retaBin)(trkBin)). */
  private lazy val roccorRes: (Vector[Double], Vector[Double], Vector[Vector[Vector[Double]]]) = {
    val f = Array.fill(2)(Vector.empty[Double])
    val r = Array.fill(3, 7)(Vector.empty[Double])
    scala.io.Source.fromFile(refData("roch_corr/RoccoR2018.txt")).getLines()
      .foreach { line =>
        val t = line.trim.split("\\s+")
        if (t.length >= 5 && t(0) == "0" && t(1) == "0") {
          if (t(2) == "F") f(t(3).toInt) = Vector.tabulate(7)(i => t(4 + i).toDouble)
          else if (t(2) == "R" && t(3).toInt <= 2)
            r(t(3).toInt)(t(4).toInt) = Vector.tabulate(13)(i => t(5 + i).toDouble)
        }
      }
    (f(0), f(1), Vector.tabulate(3)(p => Vector.tabulate(7)(e => r(p)(e))))
  }
  private def l22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grid = roccorMa(0).map { case (lo, _, p, mm, aa) =>
      (roccorCeta.indexOf(lo) + 1, lo, p, mm, aa)
    }.toDF("eidx", "eta_lo", "phi_bin", "m_mc", "a_mc")
    val (kMcV, kDatV, rsV) = roccorRes
    val mu = rd(s, dir, "lineitem").select(
      expr("20.0 + (l_extendedprice % 600.0) / 10.0").as("pt"),
      (col("l_discount") * 47.9 - 2.4).as("eta"),
      expr("CAST(l_linenumber * 7 % 16 AS INT)").as("phi_bin"),
      expr("CAST(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE -1 END AS DOUBLE)").as("q"),
      (col("l_orderkey") % 10 < 7).as("has_gen"),
      expr("(20.0 + (l_extendedprice % 600.0) / 10.0) * " +
        "(1.0 + CAST((l_partkey % 201) - 100 AS DOUBLE) / 1000.0)").as("genpt"),
      expr("CAST(l_suppkey % 13 AS INT)").as("trk_bin"),
      expr("CAST((l_orderkey * 2654435761 + l_linenumber * 40503) % 100000 " +
        "AS DOUBLE) / 100000.0").as("u"))
      .withColumn("eidx", lowerCount(col("eta"), roccorCeta.dropRight(1)))
      .withColumn("ridx", lowerCount(abs(col("eta")), roccorReta))
    val j = mu.join(broadcast(grid), Seq("eidx", "phi_bin"))
    val kScaleMc = lit(1.0) /
      (lit(1.0) + (col("m_mc") + col("q") * col("a_mc") * col("pt")) / lit(100.0))
    val ptc = col("pt") * kScaleMc
    val kmc = element_at(typedLit(kMcV), col("ridx"))
    val kdat = element_at(typedLit(kDatV), col("ridx"))
    def rsp(p: Int) =
      element_at(element_at(typedLit(rsV(p)), col("ridx")), col("trk_bin") + 1)
    val dpt = ptc - lit(45.0)
    val sigma = rsp(0) + rsp(1) * dpt + rsp(2) * dpt * dpt
    val x = col("genpt") / ptc
    val kSpreadMc = kScaleMc * (x / (lit(1.0) + (x - lit(1.0)) * kdat / kmc))
    val z = (col("u") - lit(0.5)) * sqrt(lit(12.0))
    val extra = sqrt(greatest(kdat * kdat / (kmc * kmc) - lit(1.0), lit(0.0))) * sigma
    val kSmearMc = kScaleMc * (lit(1.0) + extra * z)
    val kq = when(col("has_gen"), kSpreadMc).otherwise(kSmearMc)
    j.select(col("eta_lo"), col("has_gen"),
        floor(kq * lit(1e9) + lit(0.5)).cast("long").as("kq"))
      .groupBy(col("eta_lo"), col("has_gen"))
      .agg(count(lit(1)).as("n_mu"), sum(col("kq")).as("k_nano_sum"))
      .orderBy(col("eta_lo"), col("has_gen"))
  }
  /** Literal tables from an INDEPENDENT Python parse (tools-side). */
  private val l22Sql =
    s"""WITH rawmc(eta_lo, eta_hi, phi_bin, m_mc, a_mc) AS (VALUES
      |(-2.4,-2.1,0,-0.30363,-0.0006817),
      |(-2.4,-2.1,1,-0.2635141,-0.0021826),
      |(-2.4,-2.1,2,-0.2805547,0.0009475),
      |(-2.4,-2.1,3,-0.2769985,-0.0032545),
      |(-2.4,-2.1,4,-0.2135179,0.0002365),
      |(-2.4,-2.1,5,-0.2213895,0.0058558),
      |(-2.4,-2.1,6,-0.3186237,0.0003529),
      |(-2.4,-2.1,7,-0.3086586,0.0014704),
      |(-2.4,-2.1,8,-0.1874772,0.0077665),
      |(-2.4,-2.1,9,-0.2288103,-0.0010038),
      |(-2.4,-2.1,10,-0.2525038,-0.0005729),
      |(-2.4,-2.1,11,-0.3086996,-0.0011739),
      |(-2.4,-2.1,12,-0.2736972,0.0005563),
      |(-2.4,-2.1,13,-0.1789685,0.002744),
      |(-2.4,-2.1,14,-0.287812,7.1e-05),
      |(-2.4,-2.1,15,-0.2931553,0.0025417),
      |(-2.1,-1.85,0,-0.2020402,-0.0004888),
      |(-2.1,-1.85,1,-0.1341255,-0.0020188),
      |(-2.1,-1.85,2,-0.1514845,-0.0003449),
      |(-2.1,-1.85,3,-0.1425502,-0.0021589),
      |(-2.1,-1.85,4,-0.1787417,-0.0013607),
      |(-2.1,-1.85,5,-0.1833472,0.0009611),
      |(-2.1,-1.85,6,-0.1780272,0.0027675),
      |(-2.1,-1.85,7,-0.1620589,0.0035023),
      |(-2.1,-1.85,8,-0.195665,0.0042841),
      |(-2.1,-1.85,9,-0.1346044,0.0008048),
      |(-2.1,-1.85,10,-0.0909574,-0.0010904),
      |(-2.1,-1.85,11,-0.1167896,-9.12e-05),
      |(-2.1,-1.85,12,-0.1473562,8.91e-05),
      |(-2.1,-1.85,13,-0.1343174,0.0008125),
      |(-2.1,-1.85,14,-0.138405,-0.0005312),
      |(-2.1,-1.85,15,-0.1166295,0.0010669),
      |(-1.85,-1.6,0,-0.0653963,0.0025811),
      |(-1.85,-1.6,1,-0.0946891,0.0009308),
      |(-1.85,-1.6,2,-0.0634719,0.0006817),
      |(-1.85,-1.6,3,-0.1037741,-0.0002397),
      |(-1.85,-1.6,4,-0.1261389,-0.000137),
      |(-1.85,-1.6,5,-0.0798837,0.0019552),
      |(-1.85,-1.6,6,-0.0708673,0.0022709),
      |(-1.85,-1.6,7,-0.0621168,0.0024159),
      |(-1.85,-1.6,8,-0.0511296,0.0004031),
      |(-1.85,-1.6,9,-0.0938397,0.0002226),
      |(-1.85,-1.6,10,-0.069862,-0.002386),
      |(-1.85,-1.6,11,-0.049299,-0.0001897),
      |(-1.85,-1.6,12,-0.0191074,-0.0007549),
      |(-1.85,-1.6,13,-0.0476724,0.0001136),
      |(-1.85,-1.6,14,-0.0037399,0.0004394),
      |(-1.85,-1.6,15,-0.0544363,0.0007346),
      |(-1.6,-1.2,0,-0.0751494,0.0009322),
      |(-1.6,-1.2,1,-0.0564032,0.0016129),
      |(-1.6,-1.2,2,-0.0613381,0.0005076),
      |(-1.6,-1.2,3,-0.0764581,-0.0007864),
      |(-1.6,-1.2,4,-0.0994199,0.001056),
      |(-1.6,-1.2,5,-0.0626378,0.0011089),
      |(-1.6,-1.2,6,-0.0811821,0.0010337),
      |(-1.6,-1.2,7,-0.0419718,0.0005543),
      |(-1.6,-1.2,8,-0.0646928,-2.18e-05),
      |(-1.6,-1.2,9,-0.0905605,0.0012399),
      |(-1.6,-1.2,10,-0.0962906,-0.0001417),
      |(-1.6,-1.2,11,-0.0675795,-0.0008979),
      |(-1.6,-1.2,12,-0.1169429,0.0008892),
      |(-1.6,-1.2,13,-0.0738483,-0.0006928),
      |(-1.6,-1.2,14,-0.0690105,-0.0019612),
      |(-1.6,-1.2,15,-0.1254146,0.0012853),
      |(-1.2,-0.8,0,0.001538,0.0012747),
      |(-1.2,-0.8,1,-0.0580026,0.0006237),
      |(-1.2,-0.8,2,-0.0085213,0.0005068),
      |(-1.2,-0.8,3,-0.039221,-8.85e-05),
      |(-1.2,-0.8,4,0.0146594,-0.0002712),
      |(-1.2,-0.8,5,-0.0535395,0.0006582),
      |(-1.2,-0.8,6,-0.0163252,0.0010568),
      |(-1.2,-0.8,7,-0.0144236,0.0013306),
      |(-1.2,-0.8,8,-0.0095185,-0.0004336),
      |(-1.2,-0.8,9,-0.0320967,-0.0001875),
      |(-1.2,-0.8,10,0.038935,0.000404),
      |(-1.2,-0.8,11,-0.0159376,-0.0002423),
      |(-1.2,-0.8,12,-0.0464876,0.0009271),
      |(-1.2,-0.8,13,-0.0110499,0.0002758),
      |(-1.2,-0.8,14,0.0019062,-0.0003295),
      |(-1.2,-0.8,15,-0.0485075,0.0035211),
      |(-0.8,-0.4,0,0.0209444,0.0006742),
      |(-0.8,-0.4,1,0.0010902,0.0007931),
      |(-0.8,-0.4,2,0.0162364,0.0004232),
      |(-0.8,-0.4,3,0.022822,0.0004408),
      |(-0.8,-0.4,4,0.0075566,-0.0006117),
      |(-0.8,-0.4,5,-0.0173268,0.0009688),
      |(-0.8,-0.4,6,-0.0076617,0.0002656),
      |(-0.8,-0.4,7,-0.0083082,0.0010002),
      |(-0.8,-0.4,8,0.0301883,0.0006095),
      |(-0.8,-0.4,9,0.0275373,-0.0005959),
      |(-0.8,-0.4,10,0.0073492,-0.0004054),
      |(-0.8,-0.4,11,0.0184561,-0.001145),
      |(-0.8,-0.4,12,-0.0156092,-0.0009676),
      |(-0.8,-0.4,13,0.0242506,-0.0008013),
      |(-0.8,-0.4,14,0.0204298,-0.0005155),
      |(-0.8,-0.4,15,-0.0044242,0.0001096),
      |(-0.4,0.0,0,-0.0056445,-0.0002918),
      |(-0.4,0.0,1,0.0214439,0.0008915),
      |(-0.4,0.0,2,0.0111371,0.0005939),
      |(-0.4,0.0,3,0.0027649,0.0008593),
      |(-0.4,0.0,4,0.0358528,0.0008654),
      |(-0.4,0.0,5,-0.0099332,0.0008923),
      |(-0.4,0.0,6,0.0257431,-8.91e-05),
      |(-0.4,0.0,7,0.0010789,0.0001874),
      |(-0.4,0.0,8,0.027762,-0.0008924),
      |(-0.4,0.0,9,0.032754,-0.001792),
      |(-0.4,0.0,10,0.0222974,-0.000687),
      |(-0.4,0.0,11,0.0469113,-0.0004944),
      |(-0.4,0.0,12,0.0368092,-0.0007974),
      |(-0.4,0.0,13,0.0283118,-0.0012162),
      |(-0.4,0.0,14,0.0023738,-0.0001888),
      |(-0.4,0.0,15,0.0067865,0.000221),
      |(0.0,0.4,0,0.0100644,-0.000871),
      |(0.0,0.4,1,-0.0104957,-4.8e-06),
      |(0.0,0.4,2,0.0330693,0.0011347),
      |(0.0,0.4,3,0.0197914,0.00039),
      |(0.0,0.4,4,0.0444952,0.0013288),
      |(0.0,0.4,5,0.0156178,0.0004584),
      |(0.0,0.4,6,0.0308752,-0.00037),
      |(0.0,0.4,7,0.0004608,-0.0007702),
      |(0.0,0.4,8,0.0056906,-0.0013353),
      |(0.0,0.4,9,0.0616623,-0.0007141),
      |(0.0,0.4,10,0.0169903,-0.0004408),
      |(0.0,0.4,11,0.0220168,-0.0018858),
      |(0.0,0.4,12,0.0065315,-0.0007927),
      |(0.0,0.4,13,0.0157349,-0.0002549),
      |(0.0,0.4,14,0.0314366,-0.0004496),
      |(0.0,0.4,15,0.0356748,0.0003663),
      |(0.4,0.8,0,-0.0164391,-6.08e-05),
      |(0.4,0.8,1,0.0016156,0.0006283),
      |(0.4,0.8,2,-0.0097866,0.0009756),
      |(0.4,0.8,3,-0.0190581,0.0006341),
      |(0.4,0.8,4,-0.0046113,0.000193),
      |(0.4,0.8,5,0.0013324,0.0001483),
      |(0.4,0.8,6,0.0107821,0.0013514),
      |(0.4,0.8,7,-0.0172922,7.1e-06),
      |(0.4,0.8,8,-0.0170946,0.0004007),
      |(0.4,0.8,9,0.0160065,-0.0005671),
      |(0.4,0.8,10,-0.0318227,0.0002727),
      |(0.4,0.8,11,-0.0284751,-0.0013056),
      |(0.4,0.8,12,0.0044151,-2.7e-05),
      |(0.4,0.8,13,-0.016925,0.001121),
      |(0.4,0.8,14,0.0295488,-0.0004529),
      |(0.4,0.8,15,-0.0118136,0.0011162),
      |(0.8,1.2,0,-0.0073838,-0.0001249),
      |(0.8,1.2,1,-0.0148378,0.0007265),
      |(0.8,1.2,2,-0.036713,0.001171),
      |(0.8,1.2,3,-0.0048288,-0.0001715),
      |(0.8,1.2,4,-0.0291207,0.0010791),
      |(0.8,1.2,5,-0.0325873,0.0012747),
      |(0.8,1.2,6,0.0176773,0.0002782),
      |(0.8,1.2,7,-0.0384118,0.0001184),
      |(0.8,1.2,8,-0.0383467,-0.0003768),
      |(0.8,1.2,9,-0.04229,5.65e-05),
      |(0.8,1.2,10,-0.0433553,0.0016848),
      |(0.8,1.2,11,-0.0258585,0.0003469),
      |(0.8,1.2,12,-0.0095177,-0.0006858),
      |(0.8,1.2,13,-0.0181349,0.0002273),
      |(0.8,1.2,14,-0.0155608,0.001468),
      |(0.8,1.2,15,0.0448853,0.0010365),
      |(1.2,1.6,0,-0.0463943,0.0019237),
      |(1.2,1.6,1,-0.0706844,0.0010239),
      |(1.2,1.6,2,-0.0876165,0.0021922),
      |(1.2,1.6,3,-0.0284277,0.0007529),
      |(1.2,1.6,4,-0.0795026,0.0017649),
      |(1.2,1.6,5,-0.0272313,0.0021876),
      |(1.2,1.6,6,-0.0757722,0.0021691),
      |(1.2,1.6,7,-0.0621026,0.0039498),
      |(1.2,1.6,8,-0.1094842,0.0003963),
      |(1.2,1.6,9,-0.0596779,0.0014011),
      |(1.2,1.6,10,-0.0730229,0.0033001),
      |(1.2,1.6,11,-0.1128502,0.0001004),
      |(1.2,1.6,12,-0.0614579,0.000836),
      |(1.2,1.6,13,-0.039312,0.000719),
      |(1.2,1.6,14,-0.0579592,0.0027104),
      |(1.2,1.6,15,-0.0766953,0.0029298),
      |(1.6,1.85,0,-0.0871459,0.0017961),
      |(1.6,1.85,1,-0.049144,0.0030964),
      |(1.6,1.85,2,-0.0716419,0.0041709),
      |(1.6,1.85,3,-0.0516622,0.0029102),
      |(1.6,1.85,4,-0.0186777,0.0017519),
      |(1.6,1.85,5,-0.0789082,0.0029768),
      |(1.6,1.85,6,-0.0596693,0.0017193),
      |(1.6,1.85,7,-0.1012593,0.0023965),
      |(1.6,1.85,8,-0.0432422,0.0046645),
      |(1.6,1.85,9,-0.0242597,0.0022667),
      |(1.6,1.85,10,-0.0931083,0.0015295),
      |(1.6,1.85,11,-0.0945424,-0.000733),
      |(1.6,1.85,12,-0.0660284,0.0015428),
      |(1.6,1.85,13,-0.1439673,0.002898),
      |(1.6,1.85,14,-0.0764519,0.0031029),
      |(1.6,1.85,15,-0.0703244,0.0036252),
      |(1.85,2.1,0,-0.1384398,0.0015008),
      |(1.85,2.1,1,-0.1168303,0.0031763),
      |(1.85,2.1,2,-0.1402235,0.0043526),
      |(1.85,2.1,3,-0.1492518,0.0008596),
      |(1.85,2.1,4,-0.1275841,0.0026159),
      |(1.85,2.1,5,-0.1439147,0.0042276),
      |(1.85,2.1,6,-0.1453973,0.0025184),
      |(1.85,2.1,7,-0.1124248,0.0048433),
      |(1.85,2.1,8,-0.1784323,0.0012335),
      |(1.85,2.1,9,-0.1492285,0.0029885),
      |(1.85,2.1,10,-0.1853806,0.003861),
      |(1.85,2.1,11,-0.1765401,-0.0004258),
      |(1.85,2.1,12,-0.1365789,0.0027027),
      |(1.85,2.1,13,-0.1054035,0.0037629),
      |(1.85,2.1,14,-0.0979637,0.003378),
      |(1.85,2.1,15,-0.1463942,0.0055582),
      |(2.1,2.4,0,-0.2225681,0.0044509),
      |(2.1,2.4,1,-0.2139872,0.0057157),
      |(2.1,2.4,2,-0.1969001,0.0063007),
      |(2.1,2.4,3,-0.1356838,0.0041469),
      |(2.1,2.4,4,-0.2764199,-0.0012589),
      |(2.1,2.4,5,-0.1793587,0.0018814),
      |(2.1,2.4,6,-0.3245514,-0.0060582),
      |(2.1,2.4,7,-0.3012585,0.0002104),
      |(2.1,2.4,8,-0.2919856,0.0019007),
      |(2.1,2.4,9,-0.2678033,0.0041198),
      |(2.1,2.4,10,-0.2671892,0.0056953),
      |(2.1,2.4,11,-0.264294,0.0046552),
      |(2.1,2.4,12,-0.2812897,0.0018125),
      |(2.1,2.4,13,-0.2385265,0.0031041),
      |(2.1,2.4,14,-0.2596393,-0.0003488),
      |(2.1,2.4,15,-0.3614627,-0.0008695)),
      |kresr(r_lo, r_hi, k_mc, k_dat) AS (VALUES
      |(0.0,0.4,0.9774349,1.0057285),
      |(0.4,0.8,1.0052928,1.0391704),
      |(0.8,1.2,0.9886876,1.046226),
      |(1.2,1.6,0.9915087,1.0620262),
      |(1.6,1.85,0.994428,1.0499036),
      |(1.85,2.1,0.9966606,1.0696469),
      |(2.1,1000000000.0,0.9887976,1.0675744)),
      |rsr(r_lo, r_hi, trk_bin, rs0, rs1, rs2) AS (VALUES
      |(0.0,0.4,0,0.0106045,5.76e-05,0.0),
      |(0.0,0.4,1,0.0106045,5.76e-05,0.0),
      |(0.0,0.4,2,0.0106045,5.76e-05,0.0),
      |(0.0,0.4,3,0.0112722,0.0001065,0.0),
      |(0.0,0.4,4,0.0108662,8.4e-05,2.82e-05),
      |(0.0,0.4,5,0.01064,8.02e-05,2e-05),
      |(0.0,0.4,6,0.0104389,7.12e-05,2.56e-05),
      |(0.0,0.4,7,0.0103562,6.72e-05,2.23e-05),
      |(0.0,0.4,8,0.0102254,6.16e-05,1.82e-05),
      |(0.0,0.4,9,0.0102254,6.16e-05,1.82e-05),
      |(0.0,0.4,10,0.0102254,6.16e-05,1.82e-05),
      |(0.0,0.4,11,0.0102254,6.16e-05,1.82e-05),
      |(0.0,0.4,12,0.0102254,6.16e-05,1.82e-05),
      |(0.4,0.8,0,0.0125194,0.0,0.0),
      |(0.4,0.8,1,0.0125194,0.0,0.0),
      |(0.4,0.8,2,0.0125194,0.0,0.0),
      |(0.4,0.8,3,0.012896,7.52e-05,0.0),
      |(0.4,0.8,4,0.0126625,7.41e-05,2.57e-05),
      |(0.4,0.8,5,0.0124423,7.02e-05,2.72e-05),
      |(0.4,0.8,6,0.0122287,6.24e-05,2.29e-05),
      |(0.4,0.8,7,0.0120169,5.76e-05,2.44e-05),
      |(0.4,0.8,8,0.0118633,5.42e-05,2.11e-05),
      |(0.4,0.8,9,0.0118633,5.42e-05,2.11e-05),
      |(0.4,0.8,10,0.0118633,5.42e-05,2.11e-05),
      |(0.4,0.8,11,0.0118633,5.42e-05,2.11e-05),
      |(0.4,0.8,12,0.0118633,5.42e-05,2.11e-05),
      |(0.8,1.2,0,0.0187945,0.0,0.0),
      |(0.8,1.2,1,0.0195475,9.65e-05,0.0),
      |(0.8,1.2,2,0.0193159,9.81e-05,0.0),
      |(0.8,1.2,3,0.01871,8.93e-05,3.08e-05),
      |(0.8,1.2,4,0.0180126,7.98e-05,2.5e-05),
      |(0.8,1.2,5,0.017493,7.54e-05,2.57e-05),
      |(0.8,1.2,6,0.0165482,6.78e-05,2.86e-05),
      |(0.8,1.2,7,0.0148393,5.61e-05,2.74e-05),
      |(0.8,1.2,8,0.0131078,4.56e-05,1.69e-05),
      |(0.8,1.2,9,0.0131078,4.56e-05,1.69e-05),
      |(0.8,1.2,10,0.0131078,4.56e-05,1.69e-05),
      |(0.8,1.2,11,0.0131078,4.56e-05,1.69e-05),
      |(0.8,1.2,12,0.0131078,4.56e-05,1.69e-05),
      |(1.2,1.6,0,0.0203388,0.0,0.0),
      |(1.2,1.6,1,0.0203388,0.0,0.0),
      |(1.2,1.6,2,0.0209387,0.0001075,0.0),
      |(1.2,1.6,3,0.0205782,7.42e-05,0.0),
      |(1.2,1.6,4,0.0203938,6.78e-05,1.89e-05),
      |(1.2,1.6,5,0.0201431,6.61e-05,2.19e-05),
      |(1.2,1.6,6,0.0200596,6.5e-05,1.12e-05),
      |(1.2,1.6,7,0.0201493,6.75e-05,1.58e-05),
      |(1.2,1.6,8,0.0200273,8.15e-05,0.0),
      |(1.2,1.6,9,0.0194751,8.18e-05,0.0),
      |(1.2,1.6,10,0.0188947,6.33e-05,1.51e-05),
      |(1.2,1.6,11,0.0188998,0.0,0.0),
      |(1.2,1.6,12,0.0188998,0.0,0.0),
      |(1.6,1.85,0,0.0201062,0.0001062,0.0),
      |(1.6,1.85,1,0.0201062,0.0001062,0.0),
      |(1.6,1.85,2,0.0201062,0.0001062,0.0),
      |(1.6,1.85,3,0.0201062,0.0001062,0.0),
      |(1.6,1.85,4,0.0201062,0.0001062,0.0),
      |(1.6,1.85,5,0.0201062,0.0001062,0.0),
      |(1.6,1.85,6,0.0201062,0.0001062,0.0),
      |(1.6,1.85,7,0.0196632,8.69e-05,7.64e-05),
      |(1.6,1.85,8,0.0201172,0.0001086,0.0),
      |(1.6,1.85,9,0.020046,0.0001008,1.9e-05),
      |(1.6,1.85,10,0.0199032,9.77e-05,2.4e-05),
      |(1.6,1.85,11,0.0199512,9.86e-05,0.0),
      |(1.6,1.85,12,0.0183781,8.02e-05,0.0),
      |(1.85,2.1,0,0.0297884,0.0002709,0.0),
      |(1.85,2.1,1,0.0297884,0.0002709,0.0),
      |(1.85,2.1,2,0.0297884,0.0002709,0.0),
      |(1.85,2.1,3,0.0297884,0.0002709,0.0),
      |(1.85,2.1,4,0.0297884,0.0002709,0.0),
      |(1.85,2.1,5,0.0297884,0.0002709,0.0),
      |(1.85,2.1,6,0.0297884,0.0002709,0.0),
      |(1.85,2.1,7,0.0286728,0.0002161,0.0),
      |(1.85,2.1,8,0.0275016,0.0001902,4.01e-05),
      |(1.85,2.1,9,0.0257451,0.0001661,5.53e-05),
      |(1.85,2.1,10,0.0248586,0.0001484,4.52e-05),
      |(1.85,2.1,11,0.0232906,0.0001255,3.88e-05),
      |(1.85,2.1,12,0.0232906,0.0001255,3.88e-05),
      |(2.1,1000000000.0,0,0.0688354,0.0010845,0.0),
      |(2.1,1000000000.0,1,0.0688354,0.0010845,0.0),
      |(2.1,1000000000.0,2,0.0688354,0.0010845,0.0),
      |(2.1,1000000000.0,3,0.0610726,0.0008581,0.0),
      |(2.1,1000000000.0,4,0.0574378,0.000774,0.0001662),
      |(2.1,1000000000.0,5,0.0488954,0.0005686,0.0001623),
      |(2.1,1000000000.0,6,0.0427098,0.0004311,9.36e-05),
      |(2.1,1000000000.0,7,0.0394487,0.0003594,9.94e-05),
      |(2.1,1000000000.0,8,0.0332897,0.0002483,7.99e-05),
      |(2.1,1000000000.0,9,0.0307139,0.0002053,6.28e-05),
      |(2.1,1000000000.0,10,0.0285185,0.0001755,0.0),
      |(2.1,1000000000.0,11,0.0285185,0.0001755,0.0),
      |(2.1,1000000000.0,12,0.0285185,0.0001755,0.0)),
      |grid AS (
      | SELECT CAST(eta_lo AS DOUBLE) AS eta_lo, CAST(eta_hi AS DOUBLE) AS eta_hi,
      |  phi_bin, CAST(m_mc AS DOUBLE) AS m_mc, CAST(a_mc AS DOUBLE) AS a_mc
      | FROM rawmc),
      |kres AS (
      | SELECT CAST(r_lo AS DOUBLE) AS r_lo, CAST(r_hi AS DOUBLE) AS r_hi,
      |  CAST(k_mc AS DOUBLE) AS k_mc, CAST(k_dat AS DOUBLE) AS k_dat
      | FROM kresr),
      |rs AS (
      | SELECT CAST(r_lo AS DOUBLE) AS r_lo, CAST(r_hi AS DOUBLE) AS r_hi, trk_bin,
      |  CAST(rs0 AS DOUBLE) AS rs0, CAST(rs1 AS DOUBLE) AS rs1,
      |  CAST(rs2 AS DOUBLE) AS rs2
      | FROM rsr),
      |mu AS (
      | SELECT 20.0 + (l_extendedprice % 600.0) / 10.0 AS pt,
      |  l_discount * 47.9 - 2.4 AS eta,
      |  CAST(l_linenumber * 7 % 16 AS INT) AS phi_bin,
      |  CAST(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE -1 END AS DOUBLE) AS q,
      |  l_orderkey % 10 < 7 AS has_gen,
      |  (20.0 + (l_extendedprice % 600.0) / 10.0) *
      |    (1.0 + CAST((l_partkey % 201) - 100 AS DOUBLE) / 1000.0) AS genpt,
      |  CAST(l_suppkey % 13 AS INT) AS trk_bin,
      |  CAST((l_orderkey * 2654435761 + l_linenumber * 40503) % 100000
      |    AS DOUBLE) / 100000.0 AS u
      | FROM lineitem),
      |j AS (
      | SELECT mu.*, g.eta_lo, g.m_mc, g.a_mc, k.k_mc, k.k_dat,
      |  r.rs0, r.rs1, r.rs2,
      |  1.0 / (1.0 + (g.m_mc + mu.q * g.a_mc * mu.pt) / 100.0) AS kscale
      | FROM mu
      | JOIN grid g ON mu.eta >= g.eta_lo AND mu.eta < g.eta_hi
      |   AND mu.phi_bin = g.phi_bin
      | JOIN kres k ON ABS(mu.eta) >= k.r_lo AND ABS(mu.eta) < k.r_hi
      | JOIN rs r ON ABS(mu.eta) >= r.r_lo AND ABS(mu.eta) < r.r_hi
      |   AND mu.trk_bin = r.trk_bin),
      |kcol AS (
      | SELECT eta_lo, has_gen,
      |  CASE WHEN has_gen THEN
      |   kscale * ((genpt / (pt * kscale)) /
      |     (1.0 + ((genpt / (pt * kscale)) - 1.0) * k_dat / k_mc))
      |  ELSE
      |   kscale * (1.0 +
      |    SQRT(GREATEST(k_dat * k_dat / (k_mc * k_mc) - 1.0, 0.0)) *
      |    (rs0 + rs1 * (pt * kscale - 45.0) +
      |     rs2 * (pt * kscale - 45.0) * (pt * kscale - 45.0)) *
      |    ((u - 0.5) * SQRT(12.0)))
      |  END AS k
      | FROM j)
      |SELECT eta_lo, has_gen, COUNT(*) AS n_mu,
      | CAST(SUM(CAST(FLOOR(k * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS k_nano_sum
      |FROM kcol GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin


  // ---- l24: the full muon SF chain (ID x ISO x Trig) from the real files ----
  // The reference's per-event lepton weight (stage1/corrections/
  // lepton_sf.py:8-148 + config/parameters.py muSFFileList["2018"]):
  // four REAL ROOT files — RunABCD_SF_ID / _ISO TH2Ds and the Before/
  // AfterMuonHLTUpdate trigger-efficiency TH2Fs — combined with the
  // lumi-fraction scales (8.95/59.74 and 50.79/59.74), then evaluated
  // per muon and folded per event: muID/muIso are SF products over the
  // two muons (nom/up/down via +-err = sqrt(sumw2) scaled), and muTrig
  // is the data/MC efficiency ratio of the two-muon OR,
  // (1 - prod(1-eff_data)) / (1 - prod(1-eff_mc)). Engine shape: the
  // grids come through the root-hist connector (the trigger histograms
  // disambiguated by their in-file TDirectory path IsoMu24_PtEtaBins),
  // the trig Before/After combination is a tiny (binx, biny) equi join,
  // and muons take four broadcast range joins before the exactly-2
  // pivot. Oracle = the same grids decoded by an INDEPENDENT Python
  // TH2 parser (tools/gen_musf_oracle.py, no shared code) as literals
  // + an identical replay; both engines spell the scale combination
  // v*s1 + v*s2 in file-list order.
  private val musfS1 = 8.95 / 59.74
  private val musfS2 = 50.79 / 59.74
  private def l24(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s1 = lit(musfS1); val s2 = lit(musfS2)
    def hist2(path: String, name: String, dirHint: String) =
      s.read.format("root-hist").option("path", path).load()
        .filter(col("key_name") === name && col("dir").contains(dirHint) &&
          col("x_low").isNotNull && col("x_high").isNotNull &&
          col("y_low").isNotNull && col("y_high").isNotNull)
    def sfGrid(path: String, name: String) =
      hist2(path, name, "")
        .select(col("x_low").as("pt_lo"), col("x_high").as("pt_hi"),
          col("y_low").as("ae_lo"), col("y_high").as("ae_hi"),
          (col("content") * s1 + col("content") * s2).as("sf"),
          (sqrt(col("sumw2")) * s1 + sqrt(col("sumw2")) * s2).as("err"))
    val idG = sfGrid(refData("muon_sf/year2018/RunABCD_SF_ID.root"),
      "NUM_MediumID_DEN_genTracks_pt_abseta")
    val isoG = sfGrid(refData("muon_sf/year2018/RunABCD_SF_ISO.root"),
      "NUM_TightRelIso_DEN_MediumID_pt_abseta")
    def trigGrid(name: String) = {
      val b = hist2(refData("muon_sf/mu2018/EfficienciesStudies_2018_trigger_" +
          "EfficienciesAndSF_2018Data_BeforeMuonHLTUpdate.root"),
          name, "IsoMu24_PtEtaBins")
        .select(col("binx"), col("biny"),
          col("x_low").as("ae_lo"), col("x_high").as("ae_hi"),
          col("y_low").as("pt_lo"), col("y_high").as("pt_hi"),
          col("content").as("vb"), col("sumw2").as("wb"))
      val a = hist2(refData("muon_sf/mu2018/EfficienciesStudies_2018_trigger_" +
          "EfficienciesAndSF_2018Data_AfterMuonHLTUpdate.root"),
          name, "IsoMu24_PtEtaBins")
        .select(col("binx"), col("biny"),
          col("x_low").as("ae_lo2"), col("x_high").as("ae_hi2"),
          col("y_low").as("pt_lo2"), col("y_high").as("pt_hi2"),
          col("content").as("va"), col("sumw2").as("wa"))
      val joined = b.join(a, Seq("binx", "biny"))
      // the (binx, biny) equi join ASSUMES both files share one axis
      // grid; verify it (tiny tables) so a re-binned payload fails
      // loudly instead of silently pairing mismatched bins
      val chk = joined.agg(count(lit(1)).as("n"),
        sum(when(col("ae_lo") =!= col("ae_lo2") ||
          col("ae_hi") =!= col("ae_hi2") ||
          col("pt_lo") =!= col("pt_lo2") ||
          col("pt_hi") =!= col("pt_hi2"), 1).otherwise(0)).as("mis")).head()
      require(chk.getLong(0) > 0,
        s"trigger Before/After grids share no (binx, biny) for $name")
      require(chk.getLong(1) == 0,
        s"trigger Before/After axis grids differ for $name: " +
          s"${chk.getLong(1)} of ${chk.getLong(0)} bins mismatched")
      joined
        .select(col("ae_lo"), col("ae_hi"), col("pt_lo"), col("pt_hi"),
          (col("vb") * s1 + col("va") * s2).as("eff"),
          (sqrt(col("wb")) * s1 + sqrt(col("wa")) * s2).as("err"))
    }
    val tdG = trigGrid("abseta_pt_DATA")
    val tmG = trigGrid("abseta_pt_MC")
    val w = Window.partitionBy(col("event"))
      .orderBy(col("l_linenumber"), col("l_extendedprice"), col("l_partkey"))
    val mu = rd(s, dir, "lineitem")
      .select(col("l_orderkey").as("event"), col("l_linenumber"),
        col("l_extendedprice"), col("l_partkey"),
        expr("30.0 + (l_extendedprice % 850.0) / 10.0").as("pt"),
        expr("CAST(l_partkey % 239 AS DOUBLE) / 100.0").as("abseta"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    val j = mu
      .join(broadcast(idG),
        col("pt") >= idG("pt_lo") && col("pt") < idG("pt_hi") &&
          col("abseta") >= idG("ae_lo") && col("abseta") < idG("ae_hi"))
      .select(col("event"), col("rn"), col("pt"), col("abseta"),
        col("sf").as("id_sf"), col("err").as("id_err"))
      .join(broadcast(isoG),
        col("pt") >= isoG("pt_lo") && col("pt") < isoG("pt_hi") &&
          col("abseta") >= isoG("ae_lo") && col("abseta") < isoG("ae_hi"))
      .select(col("event"), col("rn"), col("pt"), col("abseta"),
        col("id_sf"), col("id_err"), col("sf").as("iso_sf"), col("err").as("iso_err"))
      .join(broadcast(tdG),
        col("abseta") >= tdG("ae_lo") && col("abseta") < tdG("ae_hi") &&
          col("pt") >= tdG("pt_lo") && col("pt") < tdG("pt_hi"))
      .select(col("event"), col("rn"), col("pt"), col("abseta"),
        col("id_sf"), col("id_err"), col("iso_sf"), col("iso_err"),
        col("eff").as("td"), col("err").as("tde"))
      .join(broadcast(tmG),
        col("abseta") >= tmG("ae_lo") && col("abseta") < tmG("ae_hi") &&
          col("pt") >= tmG("pt_lo") && col("pt") < tmG("pt_hi"))
      .select(col("event"), col("rn"),
        col("id_sf"), col("id_err"), col("iso_sf"), col("iso_err"),
        col("td"), col("tde"), col("eff").as("tm"), col("err").as("tme"))
    def m1(c: String) = max(when(col("rn") === 1, col(c)))
    def m2(c: String) = max(when(col("rn") === 2, col(c)))
    val p = j.groupBy(col("event"))
      .agg(count(lit(1)).as("nmu"),
        m1("id_sf").as("id1"), m1("id_err").as("ide1"),
        m2("id_sf").as("id2"), m2("id_err").as("ide2"),
        m1("iso_sf").as("iso1"), m1("iso_err").as("isoe1"),
        m2("iso_sf").as("iso2"), m2("iso_err").as("isoe2"),
        m1("td").as("td1"), m1("tde").as("tde1"),
        m2("td").as("td2"), m2("tde").as("tde2"),
        m1("tm").as("tm1"), m1("tme").as("tme1"),
        m2("tm").as("tm2"), m2("tme").as("tme2"))
      .filter(col("nmu") === 2)
    def trig(num1: org.apache.spark.sql.Column, num2: org.apache.spark.sql.Column,
        den1: org.apache.spark.sql.Column, den2: org.apache.spark.sql.Column) =
      (lit(1.0) - (lit(1.0) - num1) * (lit(1.0) - num2)) /
        (lit(1.0) - (lit(1.0) - den1) * (lit(1.0) - den2))
    p.select(col("event"),
        (col("id1") * col("id2")).cast("float").as("muid_nom"),
        ((col("id1") + col("ide1")) * (col("id2") + col("ide2"))).cast("float").as("muid_up"),
        ((col("id1") - col("ide1")) * (col("id2") - col("ide2"))).cast("float").as("muid_down"),
        (col("iso1") * col("iso2")).cast("float").as("muiso_nom"),
        ((col("iso1") + col("isoe1")) * (col("iso2") + col("isoe2"))).cast("float").as("muiso_up"),
        ((col("iso1") - col("isoe1")) * (col("iso2") - col("isoe2"))).cast("float").as("muiso_down"),
        trig(col("td1"), col("td2"), col("tm1"), col("tm2"))
          .cast("float").as("mutrig_nom"),
        trig(col("td1") - col("tde1"), col("td2") - col("tde2"),
          col("tm1") - col("tme1"), col("tm2") - col("tme2"))
          .cast("float").as("mutrig_up"),
        trig(col("td1") + col("tde1"), col("td2") + col("tde2"),
          col("tm1") + col("tme1"), col("tm2") + col("tme2"))
          .cast("float").as("mutrig_down"))
      .orderBy(col("event"))
  }
  /** Grids from the INDEPENDENT Python TH2 decode (tools/gen_musf_oracle.py). */
  private val l24Sql =
    s"""WITH idg0(pt_lo, pt_hi, ae_lo, ae_hi, sf, err) AS (VALUES
      |(20.0,25.0,0.0,0.9,0.9915724307534445,0.0019160156040207348),
      |(20.0,25.0,0.9,1.2,1.0017919781413902,0.003235616122417879),
      |(20.0,25.0,1.2,2.1,1.003095897917512,0.001642813811942275),
      |(20.0,25.0,2.1,2.4,0.9889048770333184,0.0035148417045628754),
      |(25.0,30.0,0.0,0.9,0.9951464969539404,0.0008776112632373859),
      |(25.0,30.0,0.9,1.2,0.9961782288935042,0.001394466525225868),
      |(25.0,30.0,1.2,2.1,0.9935305498668381,0.0007414176029316419),
      |(25.0,30.0,2.1,2.4,0.9733259491331092,0.0024965135504476164),
      |(30.0,40.0,0.0,0.9,1.000416805295522,0.00029100950572484737),
      |(30.0,40.0,0.9,1.2,0.9994090588426798,0.00040460305727421235),
      |(30.0,40.0,1.2,2.1,0.9981213081970304,0.0003501692079068223),
      |(30.0,40.0,2.1,2.4,0.978566193168715,0.0006870865639711392),
      |(40.0,50.0,0.0,0.9,0.9980485142099653,0.00017547955698423072),
      |(40.0,50.0,0.9,1.2,0.9971223130100659,0.0002700583171676219),
      |(40.0,50.0,1.2,2.1,0.9959913441720062,0.00017098994479101468),
      |(40.0,50.0,2.1,2.4,0.9762115199484689,0.0008699687812550861),
      |(50.0,60.0,0.0,0.9,0.9965275408892196,0.0005402622179405853),
      |(50.0,60.0,0.9,1.2,0.9944907712286364,0.0009070564149825803),
      |(50.0,60.0,1.2,2.1,0.9938557174480898,0.0008733012577190351),
      |(50.0,60.0,2.1,2.4,0.9720217706182168,0.0024179195271867666),
      |(60.0,120.0,0.0,0.9,0.9988607030162592,0.00099959437225014),
      |(60.0,120.0,0.9,1.2,0.9985269142040623,0.0020163060731191594),
      |(60.0,120.0,1.2,2.1,0.995694237104142,0.001506003134659103),
      |(60.0,120.0,2.1,2.4,0.9806344958948076,0.006387677395941355)),
      |isog0(pt_lo, pt_hi, ae_lo, ae_hi, sf, err) AS (VALUES
      |(20.0,25.0,0.0,0.9,0.9875967791078082,0.0030125040083000976),
      |(20.0,25.0,0.9,1.2,0.9864189571054587,0.005053474965483367),
      |(20.0,25.0,1.2,2.1,1.0287432256996452,0.0023771039691294115),
      |(20.0,25.0,2.1,2.4,1.0653280092553012,0.0038847878464245886),
      |(25.0,30.0,0.0,0.9,0.9887223090090205,0.0014409523550834844),
      |(25.0,30.0,0.9,1.2,0.9905480054634463,0.0025833391205326885),
      |(25.0,30.0,1.2,2.1,1.0200709229291791,0.0012604384136905963),
      |(25.0,30.0,2.1,2.4,1.0435275603506486,0.0021258018365678723),
      |(30.0,40.0,0.0,0.9,0.9935372601552865,0.00039505245371949775),
      |(30.0,40.0,0.9,1.2,0.9935807370274083,0.0007446203255284961),
      |(30.0,40.0,1.2,2.1,1.0103313664053777,0.000416127676516397),
      |(30.0,40.0,2.1,2.4,1.0252235483989323,0.0007627799873238649),
      |(40.0,50.0,0.0,0.9,0.9965575842554588,0.00016186010916652272),
      |(40.0,50.0,0.9,1.2,0.9964126900350696,0.0003915885977036603),
      |(40.0,50.0,1.2,2.1,1.0051877686811932,0.00022786783798063774),
      |(40.0,50.0,2.1,2.4,1.0124813495371339,0.0004896284292289506),
      |(50.0,60.0,0.0,0.9,0.9972684655153375,0.00037512144923373367),
      |(50.0,60.0,0.9,1.2,0.9972477596587253,0.0007092187054386119),
      |(50.0,60.0,1.2,2.1,1.0028513047622143,0.00041925815669162375),
      |(50.0,60.0,2.1,2.4,1.007102696957796,0.0009550532471760978),
      |(60.0,120.0,0.0,0.9,0.9983348483359887,0.0005106436143989153),
      |(60.0,120.0,0.9,1.2,0.9992036884205016,0.000978324273189996),
      |(60.0,120.0,1.2,2.1,1.0019835090281612,0.0006219810247436672),
      |(60.0,120.0,2.1,2.4,1.0045863747864294,0.001549029389466149)),
      |tdg0(ae_lo, ae_hi, pt_lo, pt_hi, eff, err) AS (VALUES
      |(0.0,0.9,26.0,30.0,0.8969728755220586,0.00038367674122622705),
      |(0.0,0.9,30.0,40.0,0.922026909830421,0.0001234070388303801),
      |(0.0,0.9,40.0,50.0,0.9347306031186244,9.449544241776027e-05),
      |(0.0,0.9,50.0,60.0,0.9383411374545472,0.00020554400060553125),
      |(0.0,0.9,60.0,120.0,0.9398364904715458,0.00037701549597171256),
      |(0.0,0.9,120.0,200.0,0.9323493149274961,0.0013025514279052272),
      |(0.0,0.9,200.0,300.0,0.9193875241686678,0.0033397943478618063),
      |(0.0,0.9,300.0,1200.0,0.8977582311007664,0.007910207726176375),
      |(0.9,1.2,26.0,30.0,0.8632891121260251,0.0009695971231559355),
      |(0.9,1.2,30.0,40.0,0.9121225929535628,0.00025885250013759443),
      |(0.9,1.2,40.0,50.0,0.9328339216618942,0.0001737895850922683),
      |(0.9,1.2,50.0,60.0,0.9388131533213431,0.0003662776788719939),
      |(0.9,1.2,60.0,120.0,0.9399939556464249,0.0005999224408116174),
      |(0.9,1.2,120.0,200.0,0.929097923330132,0.0024360919320976266),
      |(0.9,1.2,200.0,300.0,0.9029861307479403,0.006400446789213742),
      |(0.9,1.2,300.0,1200.0,0.8906708502893189,0.014693528270000932),
      |(1.2,2.1,26.0,30.0,0.8447428147829533,0.0006140675246087001),
      |(1.2,2.1,30.0,40.0,0.8788554293577752,0.00019634462334106942),
      |(1.2,2.1,40.0,50.0,0.9018892471431927,0.00013323103840845183),
      |(1.2,2.1,50.0,60.0,0.9092862774366354,0.00029182921749469057),
      |(1.2,2.1,60.0,120.0,0.9148899953741272,0.0005118945804390383),
      |(1.2,2.1,120.0,200.0,0.9135022497332771,0.001975276013424473),
      |(1.2,2.1,200.0,300.0,0.9031036006474439,0.004577500848230306),
      |(1.2,2.1,300.0,1200.0,0.8974137281469569,0.013135394173911494),
      |(2.1,2.4,26.0,30.0,0.7054647721093277,0.0012821852754082192),
      |(2.1,2.4,30.0,40.0,0.7762217285404007,0.00047123208442618255),
      |(2.1,2.4,40.0,50.0,0.8170619905294285,0.000369724889382383),
      |(2.1,2.4,50.0,60.0,0.8292436426425004,0.0008014295488338953),
      |(2.1,2.4,60.0,120.0,0.8393671791969353,0.0015286809528594137),
      |(2.1,2.4,120.0,200.0,0.839386130770114,0.007819899923509743),
      |(2.1,2.4,200.0,300.0,0.835523856496348,0.018814050120491255),
      |(2.1,2.4,300.0,1200.0,0.8086734806010665,0.039562872445692385)),
      |tmg0(ae_lo, ae_hi, pt_lo, pt_hi, eff, err) AS (VALUES
      |(0.0,0.9,26.0,30.0,0.9202712373586653,0.0005140459198248576),
      |(0.0,0.9,30.0,40.0,0.9408391398412949,0.00015823831258522414),
      |(0.0,0.9,40.0,50.0,0.9534356435146625,0.00011751264038505272),
      |(0.0,0.9,50.0,60.0,0.9578142695435721,0.0002786960106590815),
      |(0.0,0.9,60.0,120.0,0.9608105917538852,0.00040003384454651415),
      |(0.0,0.9,120.0,200.0,0.9569101343395959,0.00652190420273816),
      |(0.0,0.9,200.0,300.0,0.938864736272453,0.004325330021473998),
      |(0.0,0.9,300.0,1200.0,0.942253815088138,0.007578737182710671),
      |(0.9,1.2,26.0,30.0,0.8958626823418109,0.001273566646861272),
      |(0.9,1.2,30.0,40.0,0.938230897177411,0.00032072386204746875),
      |(0.9,1.2,40.0,50.0,0.9574937904543569,0.00020175441800845078),
      |(0.9,1.2,50.0,60.0,0.9648947545046945,0.0004425652746977731),
      |(0.9,1.2,60.0,120.0,0.9690196596143394,0.0006785104848804743),
      |(0.9,1.2,120.0,200.0,0.9589936649436172,0.002772675405382589),
      |(0.9,1.2,200.0,300.0,0.9596922186492955,0.008040432591095206),
      |(0.9,1.2,300.0,1200.0,0.9455399351412132,0.014123112940936789),
      |(1.2,2.1,26.0,30.0,0.8363132104751535,0.0008716463853415817),
      |(1.2,2.1,30.0,40.0,0.8704181286675658,0.0002949688833473548),
      |(1.2,2.1,40.0,50.0,0.8955442871103966,0.00019725355193197266),
      |(1.2,2.1,50.0,60.0,0.9049261906971531,0.0004559101026478426),
      |(1.2,2.1,60.0,120.0,0.9126239348044553,0.000791155424098905),
      |(1.2,2.1,120.0,200.0,0.9135438941237037,0.0028899758331975825),
      |(1.2,2.1,200.0,300.0,0.9130707415582187,0.006482092320636042),
      |(1.2,2.1,300.0,1200.0,0.9055800032847136,0.013326791003806255),
      |(2.1,2.4,26.0,30.0,0.7186185874127208,0.0018444988032939613),
      |(2.1,2.4,30.0,40.0,0.7772553442192588,0.0006900330488505402),
      |(2.1,2.4,40.0,50.0,0.8110748887920124,0.0005555921044481431),
      |(2.1,2.4,50.0,60.0,0.8247401760719594,0.0012955713171116294),
      |(2.1,2.4,60.0,120.0,0.8253676826075083,0.002328480909872318),
      |(2.1,2.4,120.0,200.0,0.8405836731704294,0.01883512384164912),
      |(2.1,2.4,200.0,300.0,0.8327904135776995,0.024707377871946365),
      |(2.1,2.4,300.0,1200.0,0.8302864798303826,0.07748059158984386)),
      |idg AS (SELECT CAST(pt_lo AS DOUBLE) AS pt_lo, CAST(pt_hi AS DOUBLE) AS pt_hi,
      |  CAST(ae_lo AS DOUBLE) AS ae_lo, CAST(ae_hi AS DOUBLE) AS ae_hi,
      |  CAST(sf AS DOUBLE) AS sf, CAST(err AS DOUBLE) AS err FROM idg0),
      |isog AS (SELECT CAST(pt_lo AS DOUBLE) AS pt_lo, CAST(pt_hi AS DOUBLE) AS pt_hi,
      |  CAST(ae_lo AS DOUBLE) AS ae_lo, CAST(ae_hi AS DOUBLE) AS ae_hi,
      |  CAST(sf AS DOUBLE) AS sf, CAST(err AS DOUBLE) AS err FROM isog0),
      |tdg AS (SELECT CAST(ae_lo AS DOUBLE) AS ae_lo, CAST(ae_hi AS DOUBLE) AS ae_hi,
      |  CAST(pt_lo AS DOUBLE) AS pt_lo, CAST(pt_hi AS DOUBLE) AS pt_hi,
      |  CAST(eff AS DOUBLE) AS eff, CAST(err AS DOUBLE) AS err FROM tdg0),
      |tmg AS (SELECT CAST(ae_lo AS DOUBLE) AS ae_lo, CAST(ae_hi AS DOUBLE) AS ae_hi,
      |  CAST(pt_lo AS DOUBLE) AS pt_lo, CAST(pt_hi AS DOUBLE) AS pt_hi,
      |  CAST(eff AS DOUBLE) AS eff, CAST(err AS DOUBLE) AS err FROM tmg0),
      |mu AS (
      | SELECT * FROM (
      |  SELECT l_orderkey AS event,
      |   30.0 + (l_extendedprice % 850.0) / 10.0 AS pt,
      |   CAST(l_partkey % 239 AS DOUBLE) / 100.0 AS abseta,
      |   ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |     ORDER BY l_linenumber, l_extendedprice, l_partkey) AS rn
      |  FROM lineitem) WHERE rn <= 2),
      |j AS (
      | SELECT mu.event, mu.rn,
      |  i.sf AS id_sf, i.err AS id_err, o.sf AS iso_sf, o.err AS iso_err,
      |  d.eff AS td, d.err AS tde, m.eff AS tm, m.err AS tme
      | FROM mu
      | JOIN idg i ON mu.pt >= i.pt_lo AND mu.pt < i.pt_hi
      |  AND mu.abseta >= i.ae_lo AND mu.abseta < i.ae_hi
      | JOIN isog o ON mu.pt >= o.pt_lo AND mu.pt < o.pt_hi
      |  AND mu.abseta >= o.ae_lo AND mu.abseta < o.ae_hi
      | JOIN tdg d ON mu.abseta >= d.ae_lo AND mu.abseta < d.ae_hi
      |  AND mu.pt >= d.pt_lo AND mu.pt < d.pt_hi
      | JOIN tmg m ON mu.abseta >= m.ae_lo AND mu.abseta < m.ae_hi
      |  AND mu.pt >= m.pt_lo AND mu.pt < m.pt_hi),
      |p AS (
      | SELECT event, COUNT(*) AS nmu,
      |  MAX(CASE WHEN rn = 1 THEN id_sf END) AS id1,
      |  MAX(CASE WHEN rn = 1 THEN id_err END) AS ide1,
      |  MAX(CASE WHEN rn = 2 THEN id_sf END) AS id2,
      |  MAX(CASE WHEN rn = 2 THEN id_err END) AS ide2,
      |  MAX(CASE WHEN rn = 1 THEN iso_sf END) AS iso1,
      |  MAX(CASE WHEN rn = 1 THEN iso_err END) AS isoe1,
      |  MAX(CASE WHEN rn = 2 THEN iso_sf END) AS iso2,
      |  MAX(CASE WHEN rn = 2 THEN iso_err END) AS isoe2,
      |  MAX(CASE WHEN rn = 1 THEN td END) AS td1,
      |  MAX(CASE WHEN rn = 1 THEN tde END) AS tde1,
      |  MAX(CASE WHEN rn = 2 THEN td END) AS td2,
      |  MAX(CASE WHEN rn = 2 THEN tde END) AS tde2,
      |  MAX(CASE WHEN rn = 1 THEN tm END) AS tm1,
      |  MAX(CASE WHEN rn = 1 THEN tme END) AS tme1,
      |  MAX(CASE WHEN rn = 2 THEN tm END) AS tm2,
      |  MAX(CASE WHEN rn = 2 THEN tme END) AS tme2
      | FROM j GROUP BY 1 HAVING COUNT(*) = 2)
      |SELECT event,
      | CAST(id1 * id2 AS REAL) AS muid_nom,
      | CAST((id1 + ide1) * (id2 + ide2) AS REAL) AS muid_up,
      | CAST((id1 - ide1) * (id2 - ide2) AS REAL) AS muid_down,
      | CAST(iso1 * iso2 AS REAL) AS muiso_nom,
      | CAST((iso1 + isoe1) * (iso2 + isoe2) AS REAL) AS muiso_up,
      | CAST((iso1 - isoe1) * (iso2 - isoe2) AS REAL) AS muiso_down,
      | CAST((1.0 - (1.0 - td1) * (1.0 - td2)) /
      |      (1.0 - (1.0 - tm1) * (1.0 - tm2)) AS REAL) AS mutrig_nom,
      | CAST((1.0 - (1.0 - (td1 - tde1)) * (1.0 - (td2 - tde2))) /
      |      (1.0 - (1.0 - (tm1 - tme1)) * (1.0 - (tm2 - tme2))) AS REAL) AS mutrig_up,
      | CAST((1.0 - (1.0 - (td1 + tde1)) * (1.0 - (td2 + tde2))) /
      |      (1.0 - (1.0 - (tm1 + tme1)) * (1.0 - (tm2 + tme2))) AS REAL) AS mutrig_down
      |FROM p ORDER BY event""".stripMargin

  // ---- l19: PU-jet-ID event weight from the reference's PUIDMaps.root -------
  // The reference's PUID correction input (data/PUIDMaps.root, 54 TH2F
  // eff/mistag/SF maps consumed by stage1's jet-ID weighting; weights
  // multiply per jet into one event weight, the weights.py fold). This
  // reads the 2018 medium-WP SF map through the root-hist connector,
  // range-joins each jet's (pt, eta) cell, and builds the EVENT weight
  // as the per-event product of jet SFs — in log space with the repo's
  // quantize-before-fold discipline: ln(sf) nano-quantizes per jet (the
  // only float->int step), the per-event sum is exact integer, and one
  // exp at the end casts float32. Oracle = independently parsed literal
  // map (tools-side minimal TH2F decoder, no shared code) + identical
  // replay.
  private def l19(s: SparkSession, dir: String): DataFrame = {
    val sfMap = s.read.format("root-hist")
      .option("path", refData("PUIDMaps.root")).load()
      .filter(col("hist") === "h2_eff_sf2018_M" &&
        col("binx").between(1, 5) && col("biny").between(1, 12))
      .select(col("x_low"), col("x_high"), col("y_low"), col("y_high"),
        col("content").as("sf"))
    val jets = rd(s, dir, "lineitem")
      .select(col("l_orderkey").as("event"),
        expr("15.0 + l_extendedprice % 35.0").as("pt"),
        (col("l_discount") * 100.0 - 5.0).as("eta"))
    jets.join(broadcast(sfMap),
        col("pt") >= col("x_low") && col("pt") < col("x_high") &&
          col("eta") >= col("y_low") && col("eta") < col("y_high"))
      .select(col("event"),
        expr("CAST(FLOOR(LN(sf) * 1e9 + 0.5) AS BIGINT)").as("lnq"))
      .groupBy(col("event"))
      .agg(count(lit(1)).as("n_jets"), sum(col("lnq")).as("ln_nano_sum"))
      .select(col("event"), col("n_jets"), col("ln_nano_sum"),
        expr("CAST(EXP(CAST(ln_nano_sum AS DOUBLE) / 1e9) AS FLOAT)")
          .as("puid_weight"))
      .orderBy(col("event"))
  }
  private val l19Sql =
    """WITH rawm(x_low, x_high, y_low, y_high, sf) AS (VALUES
      |(15.0,20.0,-5.0,-3.0,0.8783412575721741),
      |(20.0,25.0,-5.0,-3.0,0.8927531242370605),
      |(25.0,30.0,-5.0,-3.0,0.9226834177970886),
      |(30.0,40.0,-5.0,-3.0,0.8722459673881531),
      |(40.0,50.0,-5.0,-3.0,0.9309371113777161),
      |(15.0,20.0,-3.0,-2.75,0.9496819972991943),
      |(20.0,25.0,-3.0,-2.75,1.015093207359314),
      |(25.0,30.0,-3.0,-2.75,0.9723825454711914),
      |(30.0,40.0,-3.0,-2.75,0.9436455965042114),
      |(40.0,50.0,-3.0,-2.75,0.9888049960136414),
      |(15.0,20.0,-2.75,-2.5,0.9596153497695923),
      |(20.0,25.0,-2.75,-2.5,0.970830500125885),
      |(25.0,30.0,-2.75,-2.5,0.9903846383094788),
      |(30.0,40.0,-2.75,-2.5,1.0023608207702637),
      |(40.0,50.0,-2.75,-2.5,0.990626335144043),
      |(15.0,20.0,-2.5,-2.0,0.9846177101135254),
      |(20.0,25.0,-2.5,-2.0,0.9966189861297607),
      |(25.0,30.0,-2.5,-2.0,0.9923340678215027),
      |(30.0,40.0,-2.5,-2.0,0.985401451587677),
      |(40.0,50.0,-2.5,-2.0,0.9893893003463745),
      |(15.0,20.0,-2.0,-1.479,0.9819181561470032),
      |(20.0,25.0,-2.0,-1.479,0.9817020297050476),
      |(25.0,30.0,-2.0,-1.479,0.986876368522644),
      |(30.0,40.0,-2.0,-1.479,0.9830953478813171),
      |(40.0,50.0,-2.0,-1.479,0.9856677651405334),
      |(15.0,20.0,-1.479,0.0,0.9375899434089661),
      |(20.0,25.0,-1.479,0.0,0.9650227427482605),
      |(25.0,30.0,-1.479,0.0,0.9793623089790344),
      |(30.0,40.0,-1.479,0.0,0.9772602915763855),
      |(40.0,50.0,-1.479,0.0,0.9866920113563538),
      |(15.0,20.0,0.0,1.479,0.9282165169715881),
      |(20.0,25.0,0.0,1.479,0.9588832855224609),
      |(25.0,30.0,0.0,1.479,0.9760499000549316),
      |(30.0,40.0,0.0,1.479,0.9746904373168945),
      |(40.0,50.0,0.0,1.479,0.9847586750984192),
      |(15.0,20.0,1.479,2.0,0.9621860980987549),
      |(20.0,25.0,1.479,2.0,0.9762757420539856),
      |(25.0,30.0,1.479,2.0,0.9871518015861511),
      |(30.0,40.0,1.479,2.0,0.9773740172386169),
      |(40.0,50.0,1.479,2.0,0.9847527742385864),
      |(15.0,20.0,2.0,2.5,0.98289954662323),
      |(20.0,25.0,2.0,2.5,1.0052839517593384),
      |(25.0,30.0,2.0,2.5,0.9880738854408264),
      |(30.0,40.0,2.0,2.5,0.9730995297431946),
      |(40.0,50.0,2.0,2.5,0.9748201966285706),
      |(15.0,20.0,2.5,2.75,0.938284158706665),
      |(20.0,25.0,2.5,2.75,0.9621992707252502),
      |(25.0,30.0,2.5,2.75,0.9570777416229248),
      |(30.0,40.0,2.5,2.75,0.9768657684326172),
      |(40.0,50.0,2.5,2.75,0.9846495985984802),
      |(15.0,20.0,2.75,3.0,0.9505677819252014),
      |(20.0,25.0,2.75,3.0,0.944298267364502),
      |(25.0,30.0,2.75,3.0,0.9931477308273315),
      |(30.0,40.0,2.75,3.0,0.9288220405578613),
      |(40.0,50.0,2.75,3.0,0.9384171962738037),
      |(15.0,20.0,3.0,5.0,0.8851723074913025),
      |(20.0,25.0,3.0,5.0,0.9073260426521301),
      |(25.0,30.0,3.0,5.0,0.9166547060012817),
      |(30.0,40.0,3.0,5.0,0.8802738785743713),
      |(40.0,50.0,3.0,5.0,0.9297662973403931)),
      |sfmap AS (
      | SELECT CAST(x_low AS DOUBLE) AS x_low, CAST(x_high AS DOUBLE) AS x_high,
      |  CAST(y_low AS DOUBLE) AS y_low, CAST(y_high AS DOUBLE) AS y_high,
      |  CAST(sf AS DOUBLE) AS sf
      | FROM rawm),
      |jets AS (
      | SELECT l_orderkey AS event, 15.0 + l_extendedprice % 35.0 AS pt,
      |  l_discount * 100.0 - 5.0 AS eta
      | FROM lineitem),
      |per AS (
      | SELECT event, COUNT(*) AS n_jets,
      |  CAST(SUM(CAST(FLOOR(LN(sf) * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
      |   AS ln_nano_sum
      | FROM jets JOIN sfmap
      |   ON pt >= x_low AND pt < x_high AND eta >= y_low AND eta < y_high
      | GROUP BY 1)
      |SELECT event, n_jets, ln_nano_sum,
      | CAST(EXP(CAST(ln_nano_sum AS DOUBLE) / 1e9) AS REAL) AS puid_weight
      |FROM per ORDER BY event""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l15_nnlops_interp" -> (l15 _),
    "l16_zpt_json_lookup" -> (l16 _),
    "l17_jec_unc_real" -> (l17 _),
    "l18_roccor_grid" -> (l18 _),
    "l19_puid_weight" -> (l19 _),
    "l22_roccor_mc" -> (l22 _),
    "l24_musf_chain" -> (l24 _),
    "l14_root_sf_join" -> (l14 _),
    "l13_spline_lookup" -> (l13 _),
    "l11_bilinear_2d" -> (l11 _),
    "l09_bucketed_equi_lookup" -> (l09 _),
    "l08_binned_3d_resolution" -> (l08 _),
    "l01_binned_1d" -> (l01 _),
    "l02_binned_2d" -> (l02 _),
    "l03_interp_linear" -> (l03 _),
    "l04_jec_chain" -> (l04 _),
    "l05_flavor_poly" -> (l05 _),
    "l06_qgl_norm_poly" -> (l06 _),
    "l07_rochester_branch" -> (l07 _),
    "l10_jec_variant_columns" -> (l10 _),
    "l12_jec_table_driven" -> (l12 _)
  )

  val oracle: collection.MapView[String, String] = withDeferred(Map(
    "l15_nnlops_interp" -> l15Sql,
    "l16_zpt_json_lookup" -> l16Sql,
    "l17_jec_unc_real" -> l17Sql,
    "l18_roccor_grid" -> l18Sql,
    "l19_puid_weight" -> l19Sql,
    "l22_roccor_mc" -> l22Sql,
    "l24_musf_chain" -> l24Sql,
    "l14_root_sf_join" -> l14Sql,
    "l13_spline_lookup" -> l13Sql,
    "l11_bilinear_2d" -> l11Sql,
    "l09_bucketed_equi_lookup" -> l09Sql,
    "l08_binned_3d_resolution" -> l08Sql,
    "l01_binned_1d" -> l01Sql,
    "l02_binned_2d" -> l02Sql,
    "l03_interp_linear" -> l03Sql,
    "l04_jec_chain" -> l04Sql,
    "l05_flavor_poly" -> l05Sql,
    "l06_qgl_norm_poly" -> l06Sql,
    "l07_rochester_branch" -> l07Sql),
    "l10_jec_variant_columns" -> (() => l10Sql),
    "l12_jec_table_driven" -> (() => l12Sql))
}
