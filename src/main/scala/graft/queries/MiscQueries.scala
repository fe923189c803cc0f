package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoders

/** Remaining inventory items: PU-profile auto-derivation with iterative
  * weight cropping (A14), key-set intersection (R6), config-matrix
  * cross join (R8), and the exact signed-product Aggregator (A2).
  */
object MiscQueries extends QueryFamily {

  // ---- a14: PU-profile derivation + iterative crop (A14) -----------------
  // reference: stage1/corrections/pu_reweight.py:9-72 — histogram the
  // pileup observable, form data/MC bin ratios, then clamp+renormalize
  // REPEATEDLY until the clamp no longer shifts the mc-weighted integral
  // by more than `puTol` (data-dependent iteration count). The reference
  // runs this loop on a driver-side ~100-bin numpy array; this port does
  // the same — the binned table is collected (it is tiny BY CONSTRUCTION
  // at any data scale: one row per pileup bin), iterated on the driver,
  // and the final weights return as a literal local relation, which in a
  // full pipeline is what gets broadcast onto the 100 TB event table.
  // The oracle unrolls `puMaxIter` steps where a converged step is a
  // no-op, so a fixed unroll reproduces the data-dependent loop exactly.
  private val puCap = 1.5
  private val puTol = 0.0025
  private val puMaxIter = 8
  private def a14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = rd(s, dir, "events")
    val bucket = floor(col("value") / 5.0).cast("long")
    // "data" = click/view events, "mc" = the rest — two profiles
    val binned = ev.groupBy(bucket.as("bin")).agg(
      sum(when(col("event_type").isin("click", "view"), 1.0).otherwise(0.0)).as("n_data"),
      sum(when(!col("event_type").isin("click", "view"), 1.0).otherwise(0.0)).as("n_mc"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    // empty-MC bins: NULL ratio (ANSI division would throw on /0)
    val ratio = binned
      .withColumn("r0",
        (col("n_data") / sum(col("n_data")).over(w)) /
          nullif(col("n_mc") / sum(col("n_mc")).over(w), lit(0.0)))
    // driver-side convergence loop over the collected bins, summing in
    // ascending-bin order so reruns are bit-stable
    val rows = ratio.select(col("bin"), col("n_mc"), col("r0"))
      .orderBy(col("bin")).collect()
    val bins = rows.map(_.getLong(0))
    val nMc = rows.map(_.getDouble(1))
    var wgt: Array[Option[Double]] =
      rows.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    val sumMc = nMc.sum
    var iters = 0
    var done = false
    while (!done && iters < puMaxIter) {
      // both engines' LEAST/least skip NULLs: min(NULL, cap) = cap
      val clamped = wgt.map(o => Some(math.min(o.getOrElse(puCap), puCap)))
      val f = clamped.zip(nMc).map { case (c, m) => c.get * m }.sum / sumMc
      if (math.abs(1.0 - f) <= puTol) done = true
      else { wgt = clamped.map(c => Some(c.get / f)); iters += 1 }
    }
    bins.indices.map(i => (bins(i), wgt(i).map(_.toFloat), iters))
      .toDF("bin", "pu_weight", "n_iters")
      .orderBy(col("bin"))
  }
  private val a14Sql = {
    def step(i: Int) =
      // f's numerator folds fractional doubles, so its accumulation order
      // must match the driver loop's ascending-bin left fold exactly —
      // SUM() OVER () leaves the order to the engine. list_reduce over an
      // ORDER BY bin list with a prepended 0.0 init IS that left fold.
      // The n_mc denominator is a sum of exact integer counts (each partial
      // < 2^53), so plain SUM is order-insensitive there.
      s"""s${i}f AS (
         | SELECT list_reduce([0.0] || list(LEAST(w, $puCap) * n_mc ORDER BY bin),
         |                    (fa, fb) -> fa + fb) / SUM(n_mc) AS f
         | FROM s${i - 1}),
         |s${i}a AS (
         | SELECT bin, n_mc, done, iters, w, LEAST(w, $puCap) AS c, f
         | FROM s${i - 1}, s${i}f),
         |s$i AS (
         | SELECT bin, n_mc,
         |  CASE WHEN done OR ABS(1.0 - f) <= $puTol THEN w ELSE c / f END AS w,
         |  (done OR ABS(1.0 - f) <= $puTol) AS done,
         |  iters + CASE WHEN NOT done AND ABS(1.0 - f) > $puTol THEN 1 ELSE 0 END AS iters
         | FROM s${i}a)"""
    s"""WITH binned AS (
       | SELECT CAST(FLOOR(value / 5.0) AS BIGINT) AS bin,
       |  SUM(CASE WHEN event_type IN ('click', 'view') THEN 1.0 ELSE 0.0 END) AS n_data,
       |  SUM(CASE WHEN event_type NOT IN ('click', 'view') THEN 1.0 ELSE 0.0 END) AS n_mc
       | FROM events GROUP BY 1),
       |s0 AS (
       | SELECT bin, n_mc,
       |  (n_data / SUM(n_data) OVER ())
       |   / NULLIF(n_mc / SUM(n_mc) OVER (), 0.0) AS w,
       |  FALSE AS done, 0 AS iters
       | FROM binned),
       |${(1 to puMaxIter).map(step).mkString(",\n")}
       |SELECT bin, CAST(w AS REAL) AS pu_weight, CAST(iters AS INT) AS n_iters
       |FROM s$puMaxIter ORDER BY bin""".stripMargin
  }

  // ---- r06: key-set intersection (R6) ------------------------------------
  // reference: stage3/make_templates.py:92-104 — variations common to
  // every dataset group.
  private def r06(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val a = ev.filter(col("user_id") % 2 === 0).select(col("event_type"))
    val b = ev.filter(col("user_id") % 2 =!= 0).select(col("event_type"))
    a.intersect(b).orderBy(col("event_type"))
  }
  private val r06Sql =
    """SELECT event_type FROM events WHERE user_id % 2 = 0
      |INTERSECT
      |SELECT event_type FROM events WHERE user_id % 2 != 0
      |ORDER BY event_type""".stripMargin

  // ---- r08: config-matrix cross join (R8) --------------------------------
  // reference: python/workflow.py:5-37 — fan a computation over the
  // cartesian product of tiny config lists, joined to per-cell data.
  private def r08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val years = Seq(2016, 2017, 2018).toDF("year")
    val regions = Seq("z-peak", "h-peak").toDF("cfg_region")
    val ev = rd(s, dir, "events")
    val counts = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    years.crossJoin(regions).crossJoin(counts)
      .select(col("year"), col("cfg_region"), col("event_type"), col("n"))
      .orderBy(col("year"), col("cfg_region"), col("event_type"))
  }
  private val r08Sql =
    """SELECT year, cfg_region, event_type, n
      |FROM (VALUES (2016), (2017), (2018)) AS y(year)
      |CROSS JOIN (VALUES ('z-peak'), ('h-peak')) AS r(cfg_region)
      |CROSS JOIN (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1) c
      |ORDER BY 1, 2, 3""".stripMargin

  // ---- c03: exact signed product via custom Aggregator (A2) --------------
  // reference: stage1/processor.py:260 — the OS-charge product. The
  // log-sum trick (a02) needs positivity; this Aggregator multiplies
  // exactly, including signs, with a tiny double buffer.
  private val signedProduct: Aggregator[Double, Double, Double] =
    new Aggregator[Double, Double, Double] {
      def zero: Double = 1.0
      def reduce(b: Double, a: Double): Double = b * a
      def merge(b1: Double, b2: Double): Double = b1 * b2
      def finish(r: Double): Double = r
      def bufferEncoder = Encoders.scalaDouble
      def outputEncoder = Encoders.scalaDouble
    }
  private def c03(s: SparkSession, dir: String): DataFrame = {
    s.udf.register("signed_product", udaf(signedProduct))
    val li = rd(s, dir, "lineitem")
    li.select(col("l_orderkey"),
        when(col("l_linenumber") % 2 === 0, lit(1.0) - col("l_discount"))
          .otherwise(col("l_discount") - lit(1.0)).as("x"))
      .groupBy(col("l_orderkey"))
      .agg(expr("signed_product(x)").cast("float").as("prod_signed"),
           count(lit(1)).as("n_items"))
      .orderBy(col("l_orderkey"))
  }
  private val c03Sql =
    """SELECT l_orderkey,
      | CAST(PRODUCT(CASE WHEN l_linenumber % 2 = 0 THEN 1.0 - l_discount
      |              ELSE l_discount - 1.0 END) AS REAL) AS prod_signed,
      | COUNT(*) AS n_items
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- a17: grouping-sets fused histogram (SURVEY §4) --------------------
  // The reference re-runs aggregation per (region, channel) slice plus
  // totals; ROLLUP computes every level in ONE pass over the data —
  // the fusion SURVEY.md §4 prescribes instead of N aggregate jobs.
  private def a17(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val per = li.groupBy(col("l_orderkey")).agg(
      count(lit(1)).as("njets"),
      sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("ht"))
    val region = graft.physics.Selections.regionLabel(col("ht") % lit(160.0))
    val channel = when(col("njets") <= 2, "few").otherwise("many")
    per.select(region.as("region"), channel.as("channel"),
        (lit(1.0) + col("ht") / lit(1.0e6)).as("w"))
      .rollup(col("region"), col("channel"))
      .agg(sum(col("w")).cast("float").as("yield_w"), count(lit(1)).as("n"))
      .select(coalesce(col("region"), lit("ALL")).as("region"),
        coalesce(col("channel"), lit("ALL")).as("channel"),
        col("yield_w"), col("n"))
      .orderBy(col("region"), col("channel"))
  }
  private val a17Sql = {
    val region = RelationalQueries.regionCaseSql("(ht % 160.0)")
    s"""SELECT COALESCE(region, 'ALL') AS region,
       | COALESCE(channel, 'ALL') AS channel,
       | CAST(SUM(w) AS REAL) AS yield_w, COUNT(*) AS n
       |FROM (
       | SELECT $region AS region,
       |  CASE WHEN njets <= 2 THEN 'few' ELSE 'many' END AS channel,
       |  1.0 + ht / 1.0e6 AS w
       | FROM (SELECT l_orderkey, COUNT(*) AS njets,
       |         SUM(l_extendedprice * (1.0 - l_discount)) AS ht
       |       FROM lineitem GROUP BY 1))
       |GROUP BY ROLLUP (region, channel)
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- d06: duplicate-cluster assignment (connected components) ----------
  // The keep-one-per-cluster step after near-dup detection: k fixed
  // iterations of min-label propagation over the SimHash-bucket edge
  // graph. Both engines run exactly k iterations, so the outputs match
  // even for components that have not converged — that fixed-k contract
  // is what makes an iterative distributed algorithm oracle-checkable.
  // k=5 converges every path-length-≤32 component (label jumps double).
  private val ccIters = 5
  private def d06(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    // edges: consecutive docs in the same length-and-source block —
    // a cheap deterministic near-dup graph standing in for d03's pairs
    val blocked = d.select(col("doc_id"),
      concat_ws("_", col("source"), (col("n_chars") / 50).cast("long")).as("blk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk")).orderBy(col("doc_id"))
    val chained = blocked.withColumn("prev", lag(col("doc_id"), 1).over(w))
      .filter(col("prev").isNotNull)
    val edges = chained.select(col("prev").as("src"), col("doc_id").as("dst"))
      .union(chained.select(col("doc_id").as("src"), col("prev").as("dst")))
    // edges feed every iteration's join: materialize once
    val edgesCk = edges.localCheckpoint()
    var labels = d.select(col("doc_id"), col("doc_id").as("label"))
    for (_ <- 1 to ccIters) {
      val nb = edgesCk.join(labels, col("dst") === col("doc_id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbmin"))
      labels = labels.join(nb, col("doc_id") === col("src"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nbmin"), col("label"))).as("label"))
        // truncate lineage each round: k rounds would otherwise stack k
        // join+agg subtrees into ONE plan (exponential re-execution risk
        // and unbounded lineage at scale — the iterate-then-checkpoint
        // pattern every distributed label-propagation uses)
        .localCheckpoint()
    }
    labels.select(col("doc_id"), col("label").as("cluster"))
      .orderBy(col("doc_id"))
  }
  private val d06Sql = {
    // AS MATERIALIZED: each l$i reads l${i-1} twice, so DuckDB's default
    // inlining would expand the chain 2^k times (cheap base here, but
    // the same pattern with an expensive base is forever — see d22)
    val iter = (i: Int) =>
      s"""l$i AS MATERIALIZED (
         | SELECT l.doc_id,
         |  LEAST(l.label, COALESCE(n.nbmin, l.label)) AS label
         | FROM l${i - 1} l LEFT JOIN (
         |  SELECT e.src, MIN(x.label) AS nbmin
         |  FROM edges e JOIN l${i - 1} x ON e.dst = x.doc_id
         |  GROUP BY 1) n ON l.doc_id = n.src)"""
    s"""WITH blocked AS (
       | SELECT doc_id, source || '_' || CAST(n_chars // 50 AS BIGINT) AS blk
       | FROM documents),
       |chained AS (
       | SELECT doc_id, LAG(doc_id) OVER (PARTITION BY blk ORDER BY doc_id) AS prev
       | FROM blocked),
       |edges AS (
       | SELECT prev AS src, doc_id AS dst FROM chained WHERE prev IS NOT NULL
       | UNION ALL
       | SELECT doc_id AS src, prev AS dst FROM chained WHERE prev IS NOT NULL),
       |l0 AS (SELECT doc_id, doc_id AS label FROM documents),
       |${(1 to ccIters).map(iter).mkString(",\n")}
       |SELECT doc_id, label AS cluster FROM l$ccIters ORDER BY doc_id""".stripMargin
  }

  // ---- j09: salted skew join ---------------------------------------------
  // A handful of hot keys would send whole partitions to single tasks;
  // salting splits each hot key into `nSalt` sub-keys, the dim side is
  // replicated per salt, and the aggregate re-merges. Result is
  // identical to the unsalted join — which is exactly what the oracle
  // (plain join SQL) checks.
  private val nSalt = 8
  private def j09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = rd(s, dir, "lineitem")
    // 5 hot keys: every lineitem collapses onto l_orderkey % 5
    val fact = li.select((col("l_orderkey") % 5).as("hot_key"),
      col("l_extendedprice"),
      (col("l_linenumber") % nSalt).as("salt"))
    val dim = Seq(0L -> 1.0, 1L -> 1.1, 2L -> 1.2, 3L -> 1.3, 4L -> 1.4)
      .toDF("d_key", "factor")
    val dimSalted = dim.crossJoin(
      Seq.range(0, nSalt).toDF("d_salt"))
    fact.join(broadcast(dimSalted),
        col("hot_key") === col("d_key") && col("salt") === col("d_salt"))
      .groupBy(col("hot_key"))
      .agg(sum(col("l_extendedprice") * col("factor")).cast("float").as("weighted"),
           count(lit(1)).as("n"))
      .orderBy(col("hot_key"))
  }
  private val j09Sql =
    """SELECT l_orderkey % 5 AS hot_key,
      | CAST(SUM(l_extendedprice * factor) AS REAL) AS weighted,
      | COUNT(*) AS n
      |FROM lineitem JOIN (VALUES (0, 1.0), (1, 1.1), (2, 1.2), (3, 1.3), (4, 1.4))
      |  AS d(d_key, factor) ON l_orderkey % 5 = d_key
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- a25: GROUPING SETS with grouping() flags ----------------------------
  // Completes the multi-grouping surface (a17 ROLLUP, a21 CUBE) with
  // arbitrary GROUPING SETS through the SQL API — one scan, one
  // Expand, and grouping() flags so consumers can tell a real NULL
  // from a super-aggregate row. The NULL slots coalesce to 'ALL' for
  // the cross-engine hash.
  private def a25(s: SparkSession, dir: String): DataFrame = {
    rd(s, dir, "orders").createOrReplaceTempView("graft_a25_orders")
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | grouping(o_orderstatus) AS g_status,
        | grouping(o_orderpriority) AS g_priority,
        | count(1) AS n,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS cents
        |FROM graft_a25_orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)
  }
  private val a25Sql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      | COALESCE(o_orderpriority, 'ALL') AS priority,
      | CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      | CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
      |  (o_orderstatus, o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  // ---- j17: geo radius join (haversine, cell-bucketed) ---------------------
  // The spatial "all pairs within D km" join — the classic geo-data
  // shape Spark has no native operator for. Naive is a full cross
  // product with a trig predicate; the scale shape is GRID BUCKETING:
  // assign every point its 1°×1° cell, explode ONE side into the 3×3
  // neighbor cells (9 ids-only rows — a 50 km radius cannot escape the
  // neighborhood below |lat| ≤ 60°), equi-join on the cell, and run the
  // exact haversine only on cell-local candidates. Each (A-neighbor,
  // B-cell) pair meets exactly once, so no dedup pass. The ORACLE is
  // the UNBUCKETED theta join — a green hash proves the bucketing is
  // lossless. Point set restricted to user_id < 30 so the oracle's
  // quadratic form stays feasible at sf0.1; distances are one shared
  // expression tree cast float32.
  private val geoRadiusKm = 50.0
  private def j17(s: SparkSession, dir: String): DataFrame = {
    val pts = rd(s, dir, "events")
      .filter(col("user_id") < 30)
      .select(col("event_id").as("id"),
        expr("((event_id % 1200) / 10.0) - 60.0").as("lat"),
        expr("((user_id * 97 + event_id % 3600) % 3600) / 10.0 - 180.0").as("lon"))
      .localCheckpoint() // both join sides + the cell projections
    val hav = "CAST(2.0 * 6371.0 * ASIN(SQRT(" +
      "SIN(RADIANS(b_lat - a_lat) / 2.0) * SIN(RADIANS(b_lat - a_lat) / 2.0)" +
      " + COS(RADIANS(a_lat)) * COS(RADIANS(b_lat))" +
      " * SIN(RADIANS(b_lon - a_lon) / 2.0) * SIN(RADIANS(b_lon - a_lon) / 2.0)" +
      ")) AS FLOAT)"
    val a = pts.select(col("id").as("a_id"), col("lat").as("a_lat"),
        col("lon").as("a_lon"),
        explode(expr("sequence(-1, 1)")).as("dy"))
      .select(col("a_id"), col("a_lat"), col("a_lon"), col("dy"),
        explode(expr("sequence(-1, 1)")).as("dx"))
      .select(col("a_id"), col("a_lat"), col("a_lon"),
        (expr("CAST(floor(a_lat) AS BIGINT)") + col("dy")).as("cy"),
        // wrap the neighbor cell across the antimeridian: lon cells
        // -180 and 179 are adjacent on the sphere (the haversine's
        // sin(Δlon/2) is periodic, so such pairs DO pass the exact
        // predicate) — without the wrap the equi-join can never
        // produce them and the bucketing is lossy at ±180°
        expr("((CAST(floor(a_lon) AS BIGINT) + dx + 540) % 360) - 180")
          .as("cx"))
    val b = pts.select(col("id").as("b_id"), col("lat").as("b_lat"),
      col("lon").as("b_lon"),
      expr("CAST(floor(b_lat) AS BIGINT)").as("cy"),
      // same normalization as the a side so the key domains coincide
      expr("((CAST(floor(b_lon) AS BIGINT) + 540) % 360) - 180").as("cx"))
    a.join(b, Seq("cy", "cx"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist_km", expr(hav))
      .filter(col("dist_km") <= geoRadiusKm)
      .select(col("a_id"), col("b_id"), col("dist_km"))
      .orderBy(col("a_id"), col("b_id"))
  }
  private val j17Sql = {
    val hav = "CAST(2.0 * 6371.0 * ASIN(SQRT(" +
      "SIN(RADIANS(b.lat - a.lat) / 2.0) * SIN(RADIANS(b.lat - a.lat) / 2.0)" +
      " + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))" +
      " * SIN(RADIANS(b.lon - a.lon) / 2.0) * SIN(RADIANS(b.lon - a.lon) / 2.0)" +
      ")) AS REAL)"
    s"""WITH pts AS (
       | SELECT event_id AS id,
       |  ((event_id % 1200) / 10.0) - 60.0 AS lat,
       |  ((user_id * 97 + event_id % 3600) % 3600) / 10.0 - 180.0 AS lon
       | FROM events WHERE user_id < 30)
       |SELECT a.id AS a_id, b.id AS b_id, $hav AS dist_km
       |FROM pts a JOIN pts b ON a.id < b.id
       |WHERE $hav <= $geoRadiusKm
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- j21: exact k-NN spatial join (certify-else-widen) -------------------
  // "k nearest neighbors for every point" — the join shape behind
  // store-siting, dedup-by-location and geo feature engineering. The
  // production algorithm (the kNN analogue of j17's grid): candidates
  // come from the 3x3 neighbor cells; a query is CERTIFIED when it has
  // >= k candidates and its k-th candidate distance fits inside the
  // ring bound (the conservative distance from the point to its 3x3
  // neighborhood's boundary) — a certified top-k provably equals the
  // true top-k. The rare uncertified queries (sparse cells, boundary
  // dwellers) re-run against the full point table. The ORACLE is the
  // UNBUCKETED quadratic top-k, so the green hash proves the
  // certify/widen routing is exact, not just plausible.
  //
  // Scale: the grid join is j17's 9-cell ids-only explode; the top-k
  // windows partition by query id over candidate-bounded input; only
  // the uncertified slice touches the widened join, and at 100 TB
  // that side stays a per-query broadcast probe or an iterated 5x5
  // ring. CELL SIZING IS THE KNOB THAT MAKES CERTIFICATION FIRE: at
  // 1-degree cells this corpus leaves 37/1971 queries with even k+1
  // neighborhood candidates (the fallback then does the quadratic
  // work the gate was meant to avoid); 10-degree cells put a median
  // of 40 points in every 3x3 neighborhood — in production this is
  // "size cells to ~k x expected density", and the measured occupancy
  // check IS the sizing pass. Ranking runs on micro-quantized
  // distances (ties broken by neighbor id), so the cross-engine order
  // cannot float-flip.
  private val knnK = 3
  private val knnCell = 10.0 // degrees per grid cell
  private def j21(s: SparkSession, dir: String): DataFrame = {
    val pts = rd(s, dir, "events")
      .filter(col("user_id") < 30)
      .select(col("event_id").as("id"),
        expr("((event_id % 1200) / 10.0) - 60.0").as("lat"),
        expr("((user_id * 97 + event_id % 3600) % 3600) / 10.0 - 180.0").as("lon"))
      .localCheckpoint() // grid sides, the fallback probe, and the bound
    val distMicro = "CAST(floor(2.0 * 6371.0 * ASIN(SQRT(" +
      "SIN(RADIANS(b_lat - a_lat) / 2.0) * SIN(RADIANS(b_lat - a_lat) / 2.0)" +
      " + COS(RADIANS(a_lat)) * COS(RADIANS(b_lat))" +
      " * SIN(RADIANS(b_lon - a_lon) / 2.0) * SIN(RADIANS(b_lon - a_lon) / 2.0)" +
      ")) * 1e6 + 0.5) AS BIGINT)"
    val a = pts.select(col("id").as("a_id"), col("lat").as("a_lat"),
        col("lon").as("a_lon"),
        explode(expr("sequence(-1, 1)")).as("dy"))
      .select(col("a_id"), col("a_lat"), col("a_lon"), col("dy"),
        explode(expr("sequence(-1, 1)")).as("dx"))
      .select(col("a_id"), col("a_lat"), col("a_lon"),
        (expr(s"CAST(floor(a_lat / $knnCell) AS BIGINT)") + col("dy")).as("cy"),
        expr(s"((CAST(floor(a_lon / $knnCell) AS BIGINT) + dx + 54) % 36) - 18")
          .as("cx"))
    val b = pts.select(col("id").as("b_id"), col("lat").as("b_lat"),
      col("lon").as("b_lon"),
      expr(s"CAST(floor(b_lat / $knnCell) AS BIGINT)").as("cy"),
      expr(s"((CAST(floor(b_lon / $knnCell) AS BIGINT) + 54) % 36) - 18").as("cx"))
    val wA = org.apache.spark.sql.expressions.Window.partitionBy(col("a_id"))
      .orderBy(col("dist_micro").asc, col("b_id").asc)
    val cand = a.join(b, Seq("cy", "cx"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("dist_micro", expr(distMicro))
      .withColumn("rnk", row_number().over(wA))
      .filter(col("rnk") <= knnK)
      .localCheckpoint() // feeds certification and the certified slice
    // ring bound: >= one cell of latitude to the 3x3 boundary in every
    // direction; the lon margin shrinks by the smallest cos in the
    // neighborhood (|lat| + 2 cells, conservatively)
    val boundKm =
      s"""(111.19 * LEAST(
        |  LEAST(a_lat - (floor(a_lat / $knnCell) - 1.0) * $knnCell,
        |        (floor(a_lat / $knnCell) + 2.0) * $knnCell - a_lat),
        |  LEAST(a_lon - (floor(a_lon / $knnCell) - 1.0) * $knnCell,
        |        (floor(a_lon / $knnCell) + 2.0) * $knnCell - a_lon)
        |  * COS(RADIANS(LEAST(abs(a_lat) + 2.0 * $knnCell, 89.0)))))""".stripMargin
    val perQ = cand.groupBy(col("a_id"), col("a_lat"), col("a_lon"))
      .agg(count(lit(1)).as("n_cand"), max(col("dist_micro")).as("dk_micro"))
      .withColumn("certified",
        // strict-with-margin: dist_micro rounds half-up while the bound
        // floors, so an outside point could TIE the k-th candidate at
        // micro precision and win the oracle's id tie-break; requiring
        // dk strictly one micro inside the bound closes that hole
        col("n_cand") === knnK &&
          col("dk_micro") < expr(s"CAST(floor($boundKm * 1e6) AS BIGINT) - 1"))
    val certIds = perQ.filter(col("certified")).select(col("a_id"))
    val certified = cand.join(certIds, Seq("a_id"), "left_semi")
    val uncert = pts.join(certIds.select(col("a_id").as("id")),
        Seq("id"), "left_anti")
      .select(col("id").as("a_id"), col("lat").as("a_lat"),
        col("lon").as("a_lon"))
    val fallback = uncert
      .join(pts.select(col("id").as("b_id"), col("lat").as("b_lat"),
        col("lon").as("b_lon")), col("a_id") =!= col("b_id"))
      .withColumn("dist_micro", expr(distMicro))
      .withColumn("rnk", row_number().over(wA))
      .filter(col("rnk") <= knnK)
    certified.select(col("a_id"), col("rnk"), col("b_id"), col("dist_micro"))
      .union(fallback.select(col("a_id"), col("rnk"), col("b_id"),
        col("dist_micro")))
      .select(col("a_id"), col("rnk").as("rank"), col("b_id"),
        expr("CAST(dist_micro / 1e6 AS FLOAT)").as("dist_km"))
      .orderBy(col("a_id"), col("rank"))
  }
  private val j21Sql = {
    val distMicro = "CAST(floor(2.0 * 6371.0 * ASIN(SQRT(" +
      "SIN(RADIANS(b.lat - a.lat) / 2.0) * SIN(RADIANS(b.lat - a.lat) / 2.0)" +
      " + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))" +
      " * SIN(RADIANS(b.lon - a.lon) / 2.0) * SIN(RADIANS(b.lon - a.lon) / 2.0)" +
      ")) * 1e6 + 0.5) AS BIGINT)"
    s"""WITH pts AS (
       | SELECT event_id AS id,
       |  ((event_id % 1200) / 10.0) - 60.0 AS lat,
       |  ((user_id * 97 + event_id % 3600) % 3600) / 10.0 - 180.0 AS lon
       | FROM events WHERE user_id < 30),
       |ranked AS (
       | SELECT a.id AS a_id, b.id AS b_id, $distMicro AS dist_micro,
       |  ROW_NUMBER() OVER (PARTITION BY a.id
       |                     ORDER BY $distMicro ASC, b.id ASC) AS rank
       | FROM pts a JOIN pts b ON a.id <> b.id)
       |SELECT a_id, rank, b_id,
       | CAST(dist_micro / 1e6 AS REAL) AS dist_km
       |FROM ranked WHERE rank <= $knnK
       |ORDER BY a_id, rank""".stripMargin
  }

  // ---- j18: fuzzy lookup join (record linkage) ----------------------------
  // The verify half of a Fellegi–Sunter linkage: resolve dirty entity
  // names against the catalog by Jaro–Winkler similarity (native
  // `jaro_winkler` expression — Spark ships levenshtein but no JW;
  // DuckDB's jaro_winkler_similarity is the oracle twin, bitwise-matched
  // in StringSimSpec). Plan shape: the probe list is a broadcast literal
  // dim (r08 convention), the catalog side is a DISTINCT projection of
  // the scan, a |Δlen| ≤ 2 band gates the comparisons, and the argmax
  // per probe is a partial-aggregated max(struct) — one corpus scan, no
  // all-pairs, no shuffle wider than the distinct. At 100 TB the probe
  // table stays broadcast and the argmax combines map-side. Similarity
  // is compared on basis points (t13's floor(x·10⁴+0.5) discipline) so
  // the argmax never ties on a float.
  private val fuzzyProbes = Seq("smal ring", "red wdget", "blu bolt",
    "hot gera", "large pltae", "cold palte", "new gzmo", "smal plate",
    "bleu gear", "hot plat")
  private def j18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = fuzzyProbes.toDF("probe")
    val names = rd(s, dir, "part").select(col("p_name").as("name")).distinct()
    names.join(broadcast(probes),
        abs(length(col("name")) - length(col("probe"))) <= 2)
      .withColumn("jw_bp",
        expr("CAST(floor(jaro_winkler(probe, name) * 10000 + 0.5) AS BIGINT)"))
      .groupBy(col("probe"))
      .agg(max(struct(col("jw_bp"), col("name"))).as("best"))
      .select(col("probe"), col("best.name").as("best_name"),
        col("best.jw_bp").as("jw_bp"))
      .orderBy(col("probe"))
  }
  private val j18Sql = {
    val probeRows = fuzzyProbes.map(p => s"('$p')").mkString(", ")
    s"""WITH probes(probe) AS (VALUES $probeRows),
       |names AS (SELECT DISTINCT p_name AS name FROM part),
       |scored AS (
       | SELECT probe, name,
       |  CAST(floor(jaro_winkler_similarity(probe, name) * 10000 + 0.5) AS BIGINT) AS jw_bp
       | FROM names JOIN probes ON abs(length(name) - length(probe)) <= 2)
       |SELECT probe, name AS best_name, jw_bp
       |FROM scored
       |QUALIFY row_number() OVER (PARTITION BY probe ORDER BY jw_bp DESC, name DESC) = 1
       |ORDER BY probe""".stripMargin
  }

  // ---- d22: grid-bucketed DBSCAN ------------------------------------------
  // Density clustering (Ester/Kriegel/Sander/Xu, KDD 1996) as a relational
  // pipeline: ε-neighbor pairs via j17's grid trick (cell width = ε, one
  // side exploded into its 3×3 neighborhood, exact distance only on
  // cell-local candidates — the ORACLE is the UNBUCKETED quadratic join,
  // so a green hash proves the bucketing lossless), degree count → core
  // flag, then d06's fixed-k min-label propagation over core-core edges
  // (both engines run exactly k rounds, so outputs match even for an
  // unconverged component). Border points take the MIN cluster label
  // among their core neighbors (the deterministic variant of DBSCAN's
  // order-dependent border assignment — documented deviation, same
  // convention both sides). Points are a hash scatter of event ids
  // (Knuth mix — the synthetic lat/lon lattice of j17 would percolate
  // along diagonals). At 100 TB: neighbor join is cell-equi-keyed, the
  // propagation loop is checkpointed per round, nothing is quadratic.
  private val dbEps = 1.5
  private val dbMinPts = 4
  private val dbIters = 8
  private def d22(s: SparkSession, dir: String): DataFrame = {
    val pts = rd(s, dir, "events")
      .filter(col("user_id") < 50)
      .select(col("event_id").as("id"),
        expr(s"CAST(((event_id * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0").as("x"),
        expr(s"CAST((((event_id * 31 + 7) * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0").as("y"))
      .localCheckpoint() // feeds both join sides + the final assembly
    val a = pts.select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
        explode(expr("sequence(-1, 1)")).as("dy"))
      .select(col("a_id"), col("ax"), col("ay"), col("dy"),
        explode(expr("sequence(-1, 1)")).as("dx"))
      .select(col("a_id"), col("ax"), col("ay"),
        (expr(s"CAST(floor(ax / $dbEps) AS BIGINT)") + col("dx")).as("cx"),
        (expr(s"CAST(floor(ay / $dbEps) AS BIGINT)") + col("dy")).as("cy"))
    val b = pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"),
      expr(s"CAST(floor(x / $dbEps) AS BIGINT)").as("cx"),
      expr(s"CAST(floor(y / $dbEps) AS BIGINT)").as("cy"))
    val pairs = a.join(b, Seq("cx", "cy"))
      .filter(col("a_id") < col("b_id") &&
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")) <= lit(dbEps * dbEps))
      .select(col("a_id"), col("b_id"))
      .localCheckpoint() // feeds degree, core edges, and border assembly
    val deg = pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id")))
      .groupBy(col("id")).agg((count(lit(1)) + 1).as("n"))
    val core = deg.filter(col("n") >= dbMinPts).select(col("id")).localCheckpoint()
    val coreEdges = pairs
      .join(core.select(col("id").as("a_id")), "a_id")
      .join(core.select(col("id").as("b_id")), "b_id")
    val sym = coreEdges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(coreEdges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint()
    var labels = core.select(col("id"), col("id").as("label"))
    // two propagation rounds per localCheckpoint (r16): one round's
    // recurrence references `labels` twice (the nb join and the merge),
    // so uncheckpointed plan size doubles per round — but two rounds on
    // top of a checkpointed LEAF is only 4 references to an in-memory
    // scan, while the checkpoint count (and its eager job + AQE stage
    // jobs, the dominant cost of this loop at ~70 scheduled jobs) halves.
    // Same math, same 8 rounds, identical labels — oracle-checked.
    var it = 0
    while (it < dbIters) {
      val step = math.min(2, dbIters - it)
      var l = labels
      for (_ <- 1 to step) {
        val nb = sym.join(l, col("dst") === col("id"))
          .groupBy(col("src")).agg(min(col("label")).as("nbmin"))
        l = l.join(nb, col("id") === col("src"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbmin"), col("label"))).as("label"))
      }
      labels = l.localCheckpoint()
      it += step
    }
    val coreOut = labels.select(col("id"), lit("core").as("role"),
      col("label").as("cluster"))
    // border: non-core endpoint of a pair whose other endpoint is core
    val borderNb = pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
      .union(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
      .join(labels.select(col("id").as("nb"), col("label")), "nb")
      .join(core.select(col("id"), lit(1).as("is_core")), Seq("id"), "left")
      .filter(col("is_core").isNull)
      .groupBy(col("id")).agg(min(col("label")).as("cluster"))
    val borderOut = borderNb.select(col("id"), lit("border").as("role"), col("cluster"))
    val assigned = coreOut.union(borderOut)
    pts.select(col("id"))
      .join(assigned, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("role"), lit("noise")).as("role"),
        // -1 (not NULL) for noise: a nullable int column round-trips as
        // float64 through the pandas leg of the oracle harness
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
      .orderBy(col("id"))
  }
  private val d22Sql = {
    // AS MATERIALIZED everywhere a CTE is referenced twice: each l$i
    // reads l${i-1} TWICE, so DuckDB's default inlining would expand the
    // chain 2^k times — with the quadratic pairs join at its base that
    // turned the oracle from seconds into forever
    val iter = (i: Int) =>
      s"""l$i AS MATERIALIZED (
         | SELECT l.id, LEAST(l.label, COALESCE(n.nbmin, l.label)) AS label
         | FROM l${i - 1} l LEFT JOIN (
         |  SELECT e.src, MIN(x.label) AS nbmin
         |  FROM sym e JOIN l${i - 1} x ON e.dst = x.id
         |  GROUP BY 1) n ON l.id = n.src)"""
    s"""WITH pts AS (
       | SELECT event_id AS id,
       |  CAST(((event_id * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0 AS x,
       |  CAST((((event_id * 31 + 7) * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0 AS y
       | FROM events WHERE user_id < 50),
       |pairs AS MATERIALIZED (
       | SELECT a.id AS a_id, b.id AS b_id
       | FROM pts a JOIN pts b ON a.id < b.id
       |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= ${dbEps * dbEps}),
       |deg AS (
       | SELECT id, COUNT(*) + 1 AS n FROM (
       |  SELECT a_id AS id FROM pairs UNION ALL SELECT b_id FROM pairs)
       | GROUP BY 1),
       |core AS MATERIALIZED (SELECT id FROM deg WHERE n >= $dbMinPts),
       |ce AS (
       | SELECT a_id, b_id FROM pairs
       | WHERE a_id IN (SELECT id FROM core) AND b_id IN (SELECT id FROM core)),
       |sym AS MATERIALIZED (
       | SELECT a_id AS src, b_id AS dst FROM ce
       | UNION ALL SELECT b_id, a_id FROM ce),
       |l0 AS (SELECT id, id AS label FROM core),
       |${(1 to dbIters).map(iter).mkString(",\n")},
       |border AS (
       | SELECT nbs.id, MIN(x.label) AS cluster
       | FROM (SELECT a_id AS id, b_id AS nb FROM pairs
       |       UNION ALL SELECT b_id, a_id FROM pairs) nbs
       | JOIN l$dbIters x ON x.id = nbs.nb
       | WHERE nbs.id NOT IN (SELECT id FROM core)
       | GROUP BY 1)
       |SELECT p.id,
       | CASE WHEN c.label IS NOT NULL THEN 'core'
       |      WHEN b.cluster IS NOT NULL THEN 'border'
       |      ELSE 'noise' END AS role,
       | COALESCE(c.label, b.cluster, -1) AS cluster
       |FROM pts p
       |LEFT JOIN l$dbIters c ON c.id = p.id
       |LEFT JOIN border b ON b.id = p.id
       |ORDER BY p.id""".stripMargin
  }

  // ---- j19: automatic spatial-join rewrite --------------------------------
  // d22's grid trick as a PLAN REWRITE instead of hand-written plan
  // shape: the query below is the NAIVE radius self-join — a single
  // `within_radius` theta predicate, no manual bucketing — and
  // plans.SpatialJoinRewrite.on turns it into the 9-cell explode +
  // equi-join with the original predicate as residual (j14's contract:
  // the oracle is the identical naive SQL, so a green hash + the
  // SpatialJoinRewriteSpec plan assertions prove the rewrite lossless
  // AND firing). Same hash-scattered point cloud as d22, smaller slice.
  private val spatialR = 1.5
  private def j19(s: SparkSession, dir: String): DataFrame = {
    val pts = rd(s, dir, "events")
      .filter(col("user_id") < 30)
      .select(col("event_id").as("id"),
        expr(s"CAST(((event_id * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0").as("x"),
        expr(s"CAST((((event_id * 31 + 7) * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0").as("y"))
    val a = pts.select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"))
    val b = pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"))
    graft.plans.SpatialJoinRewrite.on(
        a.join(b, expr(s"within_radius(ax, ay, bx, by, ${spatialR}D)") &&
          col("a_id") < col("b_id")))
      .select(col("a_id"), col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
  }
  private val j19Sql =
    s"""WITH pts AS (
       | SELECT event_id AS id,
       |  CAST(((event_id * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0 AS x,
       |  CAST((((event_id * 31 + 7) * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0 AS y
       | FROM events WHERE user_id < 30)
       |SELECT a.id AS a_id, b.id AS b_id
       |FROM pts a JOIN pts b
       | ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= ${spatialR * spatialR}
       | AND a.id < b.id
       |ORDER BY 1, 2""".stripMargin

  // ---- j20: point-in-polygon classification --------------------------------
  // The geofence test (ray casting / even-odd rule): a point is inside
  // iff a ray eastward crosses the boundary an odd number of times.
  // Polygons are tiny literal vertex lists (a geofence config dim), so
  // the classifier is ONE codegen projection per point — the crossing
  // test for each edge is a fixed expression over literal coordinates,
  // no join at all; at 100 TB this is a broadcast-free map-side scan.
  // Vertex coordinates sit OFF the 0.1 point grid (…37, …53) so no
  // point ever lies exactly on an edge line and the strict inequalities
  // are unambiguous on both engines. Same hash-scattered points as d22.
  private val polys: Seq[(String, Seq[(Double, Double)])] = Seq(
    "pentagon" -> Seq((20.37, 10.53), (50.11, 5.77), (70.23, 30.41),
      (45.67, 55.13), (15.29, 40.87)),
    "quad" -> Seq((55.17, 55.31), (90.43, 60.19), (85.61, 90.77), (60.07, 85.23)))
  private def rayCases(poly: Seq[(Double, Double)], px: String, py: String): String =
    poly.indices.map { i =>
      val (x1, y1) = poly(i)
      val (x2, y2) = poly((i + 1) % poly.size)
      s"(CASE WHEN (($y1 > $py) != ($y2 > $py)) AND " +
        s"($px < ($x2 - $x1) * ($py - $y1) / ($y2 - $y1) + $x1) THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", ")")
  private def j20(s: SparkSession, dir: String): DataFrame = {
    val pts = rd(s, dir, "events")
      .filter(col("user_id") < 30)
      .select(col("event_id").as("id"),
        expr(s"CAST(((event_id * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0").as("x"),
        expr(s"CAST((((event_id * 31 + 7) * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0").as("y"))
    val cols = polys.map { case (name, poly) =>
      expr(s"${rayCases(poly, "x", "y")} % 2 = 1").as(s"in_$name")
    }
    pts.select(Seq(col("id")) ++ cols: _*)
      .filter(polys.map(p => col(s"in_${p._1}")).reduce(_ || _))
      .orderBy(col("id"))
  }
  private val j20Sql = {
    val cols = polys.map { case (name, poly) =>
      s"${rayCases(poly, "x", "y")} % 2 = 1 AS in_$name"
    }.mkString(",\n | ")
    val anyIn = polys.map { case (name, poly) =>
      s"${rayCases(poly, "x", "y")} % 2 = 1"
    }.mkString(" OR ")
    s"""WITH pts AS (
       | SELECT event_id AS id,
       |  CAST(((event_id * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0 AS x,
       |  CAST((((event_id * 31 + 7) * 2654435761) % ${2147483647L}) % 1000 AS DOUBLE) / 10.0 AS y
       | FROM events WHERE user_id < 30)
       |SELECT id,
       | $cols
       |FROM pts
       |WHERE $anyIn
       |ORDER BY id""".stripMargin
  }

  // ---- a33: Benford first-digit conformance --------------------------------
  // The forensic data-quality screen (Nigrini 2012; Benford 1938):
  // natural multi-magnitude amounts follow P(d) = log10(1 + 1/d); a
  // group whose first-digit histogram deviates is flagged for review.
  // Per (priority, digit): count, observed fraction, the Benford
  // expectation, the |obs − exp| deviation, and the group's mean
  // absolute deviation (Nigrini's MAD statistic) repeated per row.
  // The first digit comes from an integer CASE ladder on magnitude
  // thresholds — never log10 of a float — and the nine Benford
  // constants are ONE Scala-formatted literal list interpolated into
  // BOTH engines' SQL, so the expectation is the identical double on
  // each side. Deviations micro-quantize before the MAD fold (the
  // order-free-sum discipline).
  //
  // Scale: one scan, (group, digit)-keyed aggregate (map-side
  // combined), two tiny windows over the ≤45-row result. The classic
  // one-pass profiling shape.
  private val benford: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
  private def a33(s: SparkSession, dir: String): DataFrame = {
    val digit =
      """CASE WHEN v < 10 THEN v WHEN v < 100 THEN v div 10
        | WHEN v < 1000 THEN v div 100 WHEN v < 10000 THEN v div 1000
        | WHEN v < 100000 THEN v div 10000 WHEN v < 1000000 THEN v div 100000
        | ELSE v div 1000000 END""".stripMargin.replace("\n", "")
    val expected = (1 to 9).map(d => s"WHEN digit = $d THEN ${benford(d - 1)}")
      .mkString("CASE ", " ", " END")
    val o = rd(s, dir, "orders")
    val counts = o
      .select(col("o_orderpriority").as("ch"),
        expr("CAST(floor(o_totalprice) AS BIGINT)").as("v"))
      .select(col("ch"), expr(digit).as("digit"))
      .groupBy(col("ch"), col("digit"))
      .agg(count(lit(1)).as("n"))
    val wch = org.apache.spark.sql.expressions.Window.partitionBy(col("ch"))
    counts
      .withColumn("total", org.apache.spark.sql.functions.sum(col("n")).over(wch))
      .withColumn("frac", col("n").cast("double") / col("total"))
      .withColumn("expected", expr(expected))
      .withColumn("dev_micro",
        expr("CAST(floor(abs(frac - expected) * 1e6 + 0.5) AS BIGINT)"))
      .withColumn("mad_micro",
        expr("SUM(dev_micro) OVER (PARTITION BY ch) div 9"))
      .select(col("ch"), col("digit"), col("n"),
        col("frac").cast("float").as("frac"),
        col("expected").cast("float").as("expected"),
        col("dev_micro"), col("mad_micro"))
      .orderBy(col("ch"), col("digit"))
  }
  private val a33Sql = {
    val digit =
      """CASE WHEN v < 10 THEN v WHEN v < 100 THEN v // 10
        | WHEN v < 1000 THEN v // 100 WHEN v < 10000 THEN v // 1000
        | WHEN v < 100000 THEN v // 10000 WHEN v < 1000000 THEN v // 100000
        | ELSE v // 1000000 END""".stripMargin.replace("\n", "")
    val expected = (1 to 9).map(d => s"WHEN digit = $d THEN ${benford(d - 1)}")
      .mkString("CASE ", " ", " END")
    s"""WITH counts AS (
       | SELECT ch, digit, COUNT(*) AS n FROM (
       |  SELECT o_orderpriority AS ch,
       |   $digit AS digit
       |  FROM (SELECT o_orderpriority,
       |         CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders))
       | GROUP BY 1, 2),
       |fr AS (
       | SELECT ch, digit, n,
       |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY ch) AS frac,
       |  $expected AS expected
       | FROM counts),
       |dv AS (
       | SELECT *, CAST(FLOOR(ABS(frac - expected) * 1e6 + 0.5) AS BIGINT)
       |   AS dev_micro
       | FROM fr)
       |SELECT ch, digit, n, CAST(frac AS REAL) AS frac,
       | CAST(expected AS REAL) AS expected, dev_micro,
       | CAST(SUM(dev_micro) OVER (PARTITION BY ch) // 9 AS BIGINT) AS mad_micro
       |FROM dv ORDER BY ch, digit""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a33_benford_digits" -> (a33 _),
    "j20_point_in_polygon" -> (j20 _),
    "j19_spatial_rule" -> (j19 _),
    "d22_dbscan_grid" -> (d22 _),
    "j18_fuzzy_lookup" -> (j18 _),
    "j21_knn_join" -> (j21 _),
    "j17_geo_radius_join" -> (j17 _),
    "a25_grouping_sets" -> (a25 _),
    "j09_salted_skew_join" -> (j09 _),
    "a17_rollup_yields" -> (a17 _),
    "d06_dup_clusters" -> (d06 _),
    "a14_pu_profile_crop" -> (a14 _),
    "r06_intersect" -> (r06 _),
    "r08_config_matrix" -> (r08 _),
    "c03_signed_product_agg" -> (c03 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "a33_benford_digits" -> a33Sql,
    "j20_point_in_polygon" -> j20Sql,
    "j19_spatial_rule" -> j19Sql,
    "d22_dbscan_grid" -> d22Sql,
    "j18_fuzzy_lookup" -> j18Sql,
    "j21_knn_join" -> j21Sql,
    "j17_geo_radius_join" -> j17Sql,
    "a25_grouping_sets" -> a25Sql,
    "j09_salted_skew_join" -> j09Sql,
    "a17_rollup_yields" -> a17Sql,
    "d06_dup_clusters" -> d06Sql,
    "a14_pu_profile_crop" -> a14Sql,
    "r06_intersect" -> r06Sql,
    "r08_config_matrix" -> r08Sql,
    "c03_signed_product_agg" -> c03Sql
  ).view
}
