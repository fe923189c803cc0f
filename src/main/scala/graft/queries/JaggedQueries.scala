package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The jagged event-table data model (SURVEY.md §1.1): one row per
  * event carrying `array<struct<...>>` collections, processed with
  * higher-order functions — the Spark shape of NanoAOD/awkward nested
  * records.
  *
  * g01 runs the whole stage-1 selection chain WITHOUT a window and
  * WITHOUT explode: assemble each event's collection once (one shuffle),
  * then object selection (`filter`), leading-pair extraction
  * (`array_sort` + slice), the exactly-2/opposite-sign gate
  * (`aggregate` over charges) and the invariant mass are all array HOFs
  * in a single codegen projection. At 100 TB this halves the shuffles
  * of the window-based s01 (no second sort-exchange for row_number) and
  * is the natural layout when the source already stores nested events —
  * then the pipeline needs ZERO shuffles.
  *
  * g02 demonstrates the index-based cross-reference join of the NanoAOD
  * model (J1: `Muon.fsrPhotonIdx` -> event-local photon list) as pure
  * `element_at` on co-located array columns — no join, no shuffle.
  */
object JaggedQueries extends QueryFamily {

  // assemble: one row per order with an array of (pt, eta, phi, charge)
  // structs, sorted by (pt desc, idx asc) at build time
  private val assembleSpark =
    """sort_array(collect_list(named_struct(
      | 'negpt', -(l_extendedprice / 500.0),
      | 'idx', l_linenumber,
      | 'tiebreak', l_extendedprice,
      | 'eta', l_discount * 40.0 - 2.0,
      | 'phi', l_tax * 78.0 - 3.12,
      | 'charge', CASE WHEN l_linenumber % 2 = 0 THEN 1.0 ELSE -1.0 END)))""".stripMargin

  private def g01(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    // one shuffle: build the jagged collection per event
    val events = li.filter(col("l_quantity") > 5.0 && col("l_extendedprice") > 2000.0)
      .groupBy(col("l_orderkey").as("event"))
      .agg(expr(assembleSpark).as("muons"))
    // everything below is HOFs in one projection — no explode, no window
    val m = 0.1057
    val gated = events
      .withColumn("nmuons", size(col("muons")))
      .withColumn("sum_charge",
        expr("aggregate(muons, CAST(0 AS DOUBLE), (acc, mu) -> acc + mu.charge)"))
      .filter(col("nmuons") === 2 && col("sum_charge") === 0.0)
      .withColumn("mu1", element_at(col("muons"), 1))
      .withColumn("mu2", element_at(col("muons"), 2))
      .select(col("event"),
        negate(col("mu1.negpt")).as("pt1"), col("mu1.eta").as("eta1"), col("mu1.phi").as("phi1"),
        negate(col("mu2.negpt")).as("pt2"), col("mu2.eta").as("eta2"), col("mu2.phi").as("phi2"))
    import graft.physics.{Kinematics => K}
    gated.select(col("event"),
        (K.p4SumMass(col("pt1"), col("eta1"), col("phi1"), lit(m),
          col("pt2"), col("eta2"), col("phi2"), lit(m)) % lit(160.0))
          .cast("float").as("dimuon_mass"),
        col("pt1").cast("float").as("mu1_pt"),
        col("pt2").cast("float").as("mu2_pt"))
      .orderBy(col("event"))
  }
  private val g01Sql = {
    val sx = "((pt1) * COS(phi1)) + ((pt2) * COS(phi2))"
    val sy = "((pt1) * SIN(phi1)) + ((pt2) * SIN(phi2))"
    val sz = s"${pzS("pt1", "eta1")} + ${pzS("pt2", "eta2")}"
    val se = s"${muES("pt1", "eta1")} + ${muES("pt2", "eta2")}"
    val mass = s"(SQRT(GREATEST(($se) * ($se) - ($sx) * ($sx) - ($sy) * ($sy) - ($sz) * ($sz), 0.0)) % 160.0)"
    // DuckDB mirror: the jagged array is a LIST of structs ordered the
    // same way; struct sort order in Spark's sort_array is field order,
    // so (negpt, idx, tiebreak) ascending == (pt desc, idx asc, price asc)
    s"""WITH events AS (
       | SELECT l_orderkey AS event,
       |  LIST({'negpt': -(l_extendedprice / 500.0), 'idx': l_linenumber,
       |        'tiebreak': l_extendedprice,
       |        'eta': l_discount * 40.0 - 2.0, 'phi': l_tax * 78.0 - 3.12,
       |        'charge': CASE WHEN l_linenumber % 2 = 0 THEN 1.0 ELSE -1.0 END}
       |       ORDER BY -(l_extendedprice / 500.0) ASC, l_linenumber ASC,
       |                l_extendedprice ASC) AS muons
       | FROM lineitem
       | WHERE l_quantity > 5.0 AND l_extendedprice > 2000.0
       | GROUP BY 1),
       |gated AS (
       | SELECT event,
       |  -(muons[1]['negpt']) AS pt1, muons[1]['eta'] AS eta1, muons[1]['phi'] AS phi1,
       |  -(muons[2]['negpt']) AS pt2, muons[2]['eta'] AS eta2, muons[2]['phi'] AS phi2
       | FROM events
       | WHERE len(muons) = 2
       |   AND list_sum(list_transform(muons, mu -> mu['charge'])) = 0.0)
       |SELECT event,
       | CAST($mass AS REAL) AS dimuon_mass,
       | CAST(pt1 AS REAL) AS mu1_pt,
       | CAST(pt2 AS REAL) AS mu2_pt
       |FROM gated ORDER BY event""".stripMargin
  }

  // ---- g02: index cross-reference via element_at (J1, zero shuffle) ------
  private def g02(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val events = li.groupBy(col("l_orderkey").as("event"))
      .agg(
        expr("""sort_array(collect_list(named_struct(
          | 'idx', l_linenumber, 'tiebreak', l_extendedprice,
          | 'pt', l_extendedprice / 500.0)))""".stripMargin).as("objs"))
    events.select(col("event"),
        size(col("objs")).as("n_objs"),
        // each object's "fsrPhotonIdx" points at (own idx % n) + 1
        expr("""CAST(aggregate(objs, CAST(0 AS DOUBLE), (acc, o) ->
          | acc + element_at(objs, CAST(o.idx % size(objs) AS INT) + 1).pt)
          | AS DOUBLE)""".stripMargin).cast("float").as("ref_pt_sum"))
      .orderBy(col("event"))
  }
  private val g02Sql =
    """WITH events AS (
      | SELECT l_orderkey AS event,
      |  LIST({'idx': l_linenumber, 'tiebreak': l_extendedprice,
      |        'pt': l_extendedprice / 500.0}
      |       ORDER BY l_linenumber ASC, l_extendedprice ASC) AS objs
      | FROM lineitem GROUP BY 1)
      |SELECT event, len(objs) AS n_objs,
      | CAST(list_sum(list_transform(objs, o ->
      |   objs[CAST(o['idx'] % len(objs) AS BIGINT) + 1]['pt'])) AS REAL) AS ref_pt_sum
      |FROM events ORDER BY event""".stripMargin

  // ---- g03: flatten -> correct -> RE-NEST roundtrip ----------------------
  // The write-back half of the jagged model: per-object corrections
  // happen on the flat view, then objects re-assemble into per-event
  // sorted collections (ONE shuffle, the same groupBy the read side
  // uses) — the layout a corrected NanoAOD-style table is stored in.
  // The nested array is emitted as a deterministic CSV of milli-unit
  // longs: float->string formatting differs between engines, integer
  // strings cannot. Positive-value round() agrees (half-up == half-away
  // from zero), and both engines round the IDENTICAL double.
  private def g03(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val corrected = li.filter(col("l_quantity") > 5.0)
      .select(col("l_orderkey").as("event"), col("l_linenumber").as("idx"),
        col("l_extendedprice").as("tb"),
        ((col("l_extendedprice") / 500.0) * (lit(1.0) + col("l_discount") / 10.0))
          .as("pt_corr"))
    val nested = corrected.groupBy(col("event")).agg(
      expr("""sort_array(collect_list(named_struct(
        | 'idx', idx, 'tb', tb,
        | 'pt_milli', CAST(round(pt_corr * 1000, 0) AS BIGINT),
        | 'pt_corr', pt_corr)))""".stripMargin).as("objs"))
    nested.select(col("event"),
        size(col("objs")).as("n_objs"),
        expr("aggregate(objs, CAST(0 AS DOUBLE), (acc, o) -> acc + o.pt_corr)")
          .cast("float").as("sum_corr"),
        concat_ws(",",
          expr("transform(objs, o -> CAST(o.pt_milli AS STRING))")).as("pt_csv"))
      .orderBy(col("event"))
  }
  private val g03Sql =
    """WITH corr AS (
      | SELECT l_orderkey AS event, l_linenumber AS idx, l_extendedprice AS tb,
      |  (l_extendedprice / 500.0) * (1.0 + l_discount / 10.0) AS pt_corr
      | FROM lineitem WHERE l_quantity > 5.0),
      |nested AS (
      | SELECT event,
      |  LIST(CAST(round(pt_corr * 1000, 0) AS BIGINT) ORDER BY idx, tb) AS pts,
      |  LIST(pt_corr ORDER BY idx, tb) AS raw
      | FROM corr GROUP BY 1)
      |SELECT event, CAST(len(pts) AS INT) AS n_objs,
      | CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE), raw),
      |      (acc, v) -> acc + v) AS REAL) AS sum_corr,
      | array_to_string(pts, ',') AS pt_csv
      |FROM nested ORDER BY event""".stripMargin

  // ---- g04: within-event pair combinatorics (argmin pair) ----------------
  // The awkward `ak.combinations` shape: enumerate all i<j object pairs
  // INSIDE each event's collection and pick the best pair — here the
  // minimum price gap, the same argmin-over-pairs the reference runs for
  // dimuon/dijet candidate selection. One shuffle total (the collect_list
  // groupBy); pair enumeration and the argmin are array HOFs in the same
  // projection, so no explode, no window, no second exchange — per-event
  // k is small (≤7 lineitems), so the k² term is bounded row work, which
  // is exactly why combinations belong INSIDE the row at 100 TB.
  // Items sort by (ln, pr) — unique per event (verified: no duplicate
  // (orderkey, linenumber, extendedprice) triples) — and array_min's
  // lexicographic struct order (diff, iln, ipr, jln, jpr) mirrors the
  // oracle's ORDER BY, so the winning pair is engine-independent (diff
  // is a single IEEE subtraction, exact on both).
  private def g04(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val events = li.groupBy(col("l_orderkey").as("event"))
      .agg(expr(
        "sort_array(collect_list(named_struct('ln', l_linenumber, 'pr', l_extendedprice)))")
        .as("items"))
      .filter(size(col("items")) >= 2)
    events
      .withColumn("n_items", size(col("items")))
      .withColumn("best", expr(
        """array_min(flatten(transform(sequence(1, size(items) - 1),
          | i -> transform(sequence(i + 1, size(items)),
          |   j -> named_struct(
          |     'diff', abs(element_at(items, i).pr - element_at(items, j).pr),
          |     'iln', element_at(items, i).ln,
          |     'ipr', element_at(items, i).pr,
          |     'jln', element_at(items, j).ln,
          |     'jpr', element_at(items, j).pr)))))""".stripMargin))
      .select(col("event"), col("n_items"),
        expr("(n_items * (n_items - 1)) div 2").as("n_pairs"),
        col("best.iln").as("iln"), col("best.jln").as("jln"),
        col("best.diff").as("min_diff"))
      .orderBy(col("event"))
  }
  private val g04Sql =
    """WITH it AS (
      | SELECT l_orderkey AS event, l_linenumber AS ln, l_extendedprice AS pr
      | FROM lineitem),
      |cnt AS (SELECT event, COUNT(*) AS n_items FROM it
      |        GROUP BY event HAVING COUNT(*) >= 2),
      |p AS (
      | SELECT a.event, abs(a.pr - b.pr) AS diff,
      |  a.ln AS iln, a.pr AS ipr, b.ln AS jln, b.pr AS jpr
      | FROM it a JOIN it b ON a.event = b.event
      |  AND (a.ln < b.ln OR (a.ln = b.ln AND a.pr < b.pr))),
      |best AS (
      | SELECT event, diff, iln, jln,
      |  ROW_NUMBER() OVER (PARTITION BY event
      |    ORDER BY diff, iln, ipr, jln, jpr) AS rn
      | FROM p)
      |SELECT c.event, CAST(c.n_items AS INT) AS n_items,
      | (c.n_items * (c.n_items - 1)) // 2 AS n_pairs,
      | b.iln, b.jln, b.diff AS min_diff
      |FROM cnt c JOIN best b ON c.event = b.event AND b.rn = 1
      |ORDER BY c.event""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_jagged_pipeline" -> (g01 _),
    "g02_jagged_index_ref" -> (g02 _),
    "g03_jagged_renest" -> (g03 _),
    "g04_pair_combinations" -> (g04 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "g01_jagged_pipeline" -> g01Sql,
    "g02_jagged_index_ref" -> g02Sql,
    "g03_jagged_renest" -> g03Sql,
    "g04_pair_combinations" -> g04Sql
  ).view
}
