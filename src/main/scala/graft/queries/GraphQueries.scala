package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Iterative graph analytics over relationship graphs derived from the
  * fact tables: PageRank (the canonical "driver-iterated joins"
  * workload) and triangle counting (the canonical "orient-then-close"
  * self-join workload). Dup-cluster connected components already lives
  * in `d06`/`d12`; this family adds the two other graph shapes a
  * curation/link-analysis pipeline reaches for: authority scoring of a
  * link graph (e.g. URL/domain ranking for crawl prioritization) and
  * local clustering structure (community/spam signals).
  *
  * Determinism across engines: PageRank runs in FIXED-POINT integer
  * micro-units — rank mass is a long, per-edge contribution is
  * `prm div outdeg` (integer division), damping is `(85 * inc) div
  * 100` — so every iteration is exact integer arithmetic and the
  * cross-engine hash cannot drift no matter the aggregation order.
  * That is the same order-free-fold discipline the repo uses for
  * float sums (milli-long quantization), applied to an iterative
  * algorithm where rounding error would otherwise compound per round.
  */
object GraphQueries extends QueryFamily {

  // ---- g05: PageRank (3 fixed-point iterations) ---------------------------
  // Graph: supplier -> part-bucket hub edges (src = l_suppkey,
  // dst = l_partkey % 97), deduplicated. The shape mirrors a
  // domain-link graph: many sources funneling into a bounded hub set.
  //
  // Scale design: the edge table (with out-degree attached) is built
  // ONCE and localCheckpoint'ed — each of the k iterations re-joins the
  // small rank vector against it, so the lineitem scan happens once and
  // the per-iteration cost is one shuffle keyed by dst (at cluster
  // scale: pre-partition edges by src and the rank vector co-locates;
  // checkpoint per iteration caps lineage exactly as d06/d12 do). The
  // node count is the only driver-side scalar (one count(), like a14's
  // collected bin table) and re-enters the plan as a literal.
  private val prIters = 3
  private def g05(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val edges = li
      .select(col("l_suppkey").as("src"), (col("l_partkey") % 97).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = edges.join(deg, "src").localCheckpoint()
    val nodes = edgesDeg.select(col("src").as("node"))
      .union(edgesDeg.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val n = nodes.count()
    val base = 150000L / n // (1 - d) * 1e6 / N, d = 0.85, floor
    val srcs = edgesDeg.select(col("src")).distinct()
    var pr = nodes.withColumn("prm", lit(1000000L / n))
    for (_ <- 1 to prIters) {
      val inc = edgesDeg.join(pr, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("prm div outdeg")).as("inc"))
      // dangling nodes (no out-edges) spread their mass uniformly —
      // without this, hub-heavy graphs leak rank every round
      val dang = pr.join(srcs, col("node") === col("src"), "left_anti")
        .agg(coalesce(sum(col("prm")), lit(0L)).as("dm"))
      pr = nodes.join(inc, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          expr(s"$base + (85 * (coalesce(inc, 0) + dm div $n)) div 100")
            .as("prm"))
    }
    pr.select(col("node"), col("prm"),
        (col("prm").cast("double") / 1e6).cast("float").as("pr"))
      .orderBy(col("node"))
  }
  private val g05Sql = {
    val prIter = (i: Int) =>
      s"""inc$i AS (
         | SELECT e.dst AS node, CAST(SUM(p.prm // e.outdeg) AS BIGINT) AS inc
         | FROM edeg e JOIN pr${i - 1} p ON p.node = e.src GROUP BY 1),
         |dang$i AS (
         | SELECT CAST(COALESCE(SUM(p.prm), 0) AS BIGINT) AS dm
         | FROM pr${i - 1} p LEFT JOIN (SELECT DISTINCT src FROM edges) s
         |   ON s.src = p.node WHERE s.src IS NULL),
         |pr$i AS (
         | SELECT nd.node,
         |  (SELECT 150000 // nn FROM n) +
         |   (85 * (COALESCE(i.inc, 0) + (SELECT dm FROM dang$i) // (SELECT nn FROM n))) // 100 AS prm
         | FROM nodes nd LEFT JOIN inc$i i ON i.node = nd.node)"""
    s"""WITH edges AS (
       | SELECT DISTINCT l_suppkey AS src, l_partkey % 97 AS dst
       | FROM lineitem WHERE l_suppkey != l_partkey % 97),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |edeg AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
       |nodes AS (
       | SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |n AS (SELECT COUNT(*) AS nn FROM nodes),
       |pr0 AS (SELECT node, (SELECT 1000000 // nn FROM n) AS prm FROM nodes),
       |${(1 to prIters).map(prIter).mkString(",\n")}
       |SELECT node, prm, CAST(CAST(prm AS DOUBLE) / 1e6 AS REAL) AS pr
       |FROM pr$prIters ORDER BY node""".stripMargin
  }

  /** Hot-key guard for the pair build below: at most this many
    * contributors per part key enter the self-join, so one key emits
    * at most cap*(cap-1)/2 pairs instead of deg²(pk). Deterministic
    * (lowest suppkeys win) and mirrored verbatim in
    * [[coSupplyEdgesCte]], so engine and oracle sparsify identically.
    * TPC-H-shaped data has ~4 suppliers/part, far under the cap, so
    * results at test SFs are unchanged — the cap exists for the
    * power-law key a 100 TB corpus will eventually contain (deg 10⁵
    * would otherwise emit 10¹⁰ pairs inside a single join task). */
  private[queries] val coSupplyCapPerKey = 32

  /** g06/g15's shared graph: supplier pairs scored by co-supplied part
    * count, sparsified to the strongest ~decile by a value threshold on
    * the shared-count distribution (ties included; fallback = max).
    * Returns the undirected (u, v) edge list, checkpointed. Any change
    * to the threshold rule changes BOTH consumers together.
    * Scale notes in the g06 comment below. */
  private[queries] def coSupplyEdges(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val wCap = Window.partitionBy(col("pk")).orderBy(col("sk"))
    val sp = li.select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .distinct()
      .withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= coSupplyCapPerKey)
      .drop("rn")
    val pairs = sp.as("a")
      .join(sp.as("b"),
        col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
      .agg(count(lit(1)).as("shared"))
      .localCheckpoint()
    val tot = pairs.agg(count(lit(1)).as("n_pairs"))
    val wCum = Window.orderBy(col("shared").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = pairs.groupBy(col("shared")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(tot))
      .agg(coalesce(
        min(when(col("cum") <= expr("n_pairs div 10"), col("shared"))),
        max(col("shared"))).as("thr"))
    pairs.crossJoin(broadcast(thr))
      .filter(col("shared") >= col("thr"))
      .select(col("u"), col("v"))
      .localCheckpoint()
  }

  /** The oracle-side twin of [[coSupplyEdges]]: CTEs ending in `edges`. */
  private[queries] val coSupplyEdgesCte: String =
    s"""sp0 AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
      |sp AS (
      | SELECT sk, pk FROM (
      |  SELECT sk, pk,
      |   ROW_NUMBER() OVER (PARTITION BY pk ORDER BY sk) AS rn FROM sp0)
      | WHERE rn <= $coSupplyCapPerKey),
      |pairs AS (
      | SELECT a.sk AS u, b.sk AS v, COUNT(*) AS shared
      | FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk < b.sk GROUP BY 1, 2),
      |dist AS (
      | SELECT shared, COUNT(*) AS c FROM pairs GROUP BY 1),
      |cum AS (
      | SELECT shared, SUM(c) OVER (ORDER BY shared DESC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |  SUM(c) OVER () AS tot
      | FROM dist),
      |thr AS (
      | SELECT COALESCE(
      |   MIN(CASE WHEN cum <= tot // 10 THEN shared END),
      |   MAX(shared)) AS thr
      | FROM cum),
      |edges AS (
      | SELECT u, v FROM pairs, thr WHERE pairs.shared >= thr.thr)""".stripMargin

  // ---- g06: triangle count over the co-supply graph -----------------------
  // Edges: supplier pairs scored by how many distinct parts they both
  // supply; keep the strongest ~decile via a VALUE threshold on the
  // shared-count distribution (smallest count whose descending
  // cumulative frequency stays within n/10, ties included; fallback =
  // the max count). Triangles close wedges in (u < v < w) orientation,
  // so each triangle is counted exactly once and the heaviest join
  // side is bounded by the oriented degree, the standard trick that
  // makes triangle counting feasible on power-law graphs.
  //
  // Scale design: the (supplier, part) projection is deduplicated
  // BEFORE the self-join, so pair generation is the inverted-index
  // shuffle keyed by part (never doc x doc); the edge list is
  // checkpointed once and feeds all three triangle-join legs. The
  // sparsification threshold comes from the count DISTRIBUTION (a
  // |distinct shared values|-sized table — tens of rows however large
  // the corpus), never from a global sort of the pair table: ranking
  // 500k pairs through one window partition was measurably slower at
  // sf0.1 and would be a straight bottleneck at 100 TB.
  /** Triangle rows (one per triangle, corners in (degree, id)-rank
    * order) from an undirected edge list given as its (u < v)
    * representatives. Exposed at package level so TriangleOrientSpec
    * can drive it with adversarial (power-law) edge lists g06's
    * lineitem-derived graph never produces. */
  /** Per-task wedge budget for the closure/self-join stages (round-11
    * verdict ask #5). Per-task aggregation/sort state in the wedge
    * stages is proportional to the wedges one task generates; at the
    * default 4M a task's partial state stays ~100-200 MB — inside a
    * 256 MB share of a commodity 8 GiB × 32-thread executor. Override
    * with spark.graft.graph.wedgeBudget. */
  private def wedgeBudget(s: SparkSession): Long =
    s.conf.get("spark.graft.graph.wedgeBudget", "4000000").toLong

  /** Edge-count cap for broadcasting the closure legs (~25 B/edge ⇒ the
    * default 4M ≈ 100 MB broadcast). Above it the closure falls back to
    * the budget-partitioned shuffle plan — the 100-TB regime where no
    * edge list fits an executor. */
  private def broadcastEdgeCap(s: SparkSession): Long =
    s.conf.get("spark.graft.graph.broadcastEdgeCap", "4000000").toLong

  /** Total-wedge guard (d02/d07's candidate-budget pattern applied to
    * the wedge family): both g06 and g15 price their wedge work EXACTLY
    * from the degree tables before any join runs — the bill is known
    * before it is paid. DEFAULT-ON since round 14 (round-13 verdict
    * ask #2 — the wedge total is the operator's true output-side cost,
    * but so is d07's candidate set, and the posture should match):
    *
    *   spark.graft.graph.maxWedges (default 2e9 — ~2.5× the GenSf
    *     sf1-uniform g15 bill of 7.83e8, the largest corpus any
    *     committed gate runs in fail mode; the zipf-sf1 hub rehearsal's
    *     8.05e9 bill = 398 s / 48 GiB spill is exactly the number an
    *     operator should OPT INTO, and hub_rehearsal.sh does, via
    *     proceed). 0 = explicitly unlimited.
    *   spark.graft.graph.onWedgesExceeded ∈ fail | proceed
    *
    * No retune mode: the wedge total is exact output-side work (no
    * recall dial) — the advice is a harder co-supply sparsification
    * threshold, a higher cap, or an explicit proceed opt-in. */
  private def checkWedgeCap(s: SparkSession, totalWedges: Long,
      query: String): Unit = {
    val cap = s.conf.get("spark.graft.graph.maxWedges", "2000000000").toLong
    val mode = s.conf.get("spark.graft.graph.onWedgesExceeded", "fail")
    if (mode != "fail" && mode != "proceed")
      throw new IllegalArgumentException(
        s"spark.graft.graph.onWedgesExceeded must be fail|proceed, got '$mode'")
    if (cap > 0 && totalWedges > cap && mode != "proceed")
      throw new IllegalStateException(
        s"$query: the degree tables price this corpus at $totalWedges " +
          s"wedges — over the spark.graft.graph.maxWedges cap ($cap). " +
          "The wedge total is exact output-side work (no retune): " +
          "sparsify the graph harder (co-supply threshold), raise the " +
          "cap, or set spark.graft.graph.onWedgesExceeded=proceed to " +
          "opt into the cost; raise spark.graft.graph.wedgeBudget only " +
          "if task state is the concern (PLANS.md hub-regime study).")
  }

  private[queries] def orientedTriangles(edges: DataFrame): DataFrame = {
    // Degree-ordered orientation (compact-forward): re-point each
    // undirected edge from its (degree, id)-smaller endpoint to the
    // larger one before closing wedges. Triangle counts are
    // orientation-invariant (each triangle still closes exactly once,
    // from its rank-smallest corner), so the id-oriented oracle CTE is
    // unchanged — but the join work changes from Σ C(outdeg_id, 2),
    // which a power-law hub with low ids makes Θ(deg_max²), to
    // Σ C(outdeg⁺, 2) ≤ O(E^1.5), the arboricity bound (Schank/Wagner,
    // Latapy). On the near-complete synthetic co-supply graph all
    // orientations cost the same (the sf3 densification note in
    // PLANS.md); on the power-law graphs a real corpus contains, this
    // is the difference between the hub exploding and the hub's edges
    // all pointing INTO it (outdeg⁺ = 0). TriangleOrientSpec pins both
    // the result-invariance and the hub-outdegree bound.
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint() // feeds all three closure legs
    // Wedge-budget repartition of the CLOSURE leg (round-11 verdict
    // ask #5, same rationale as g15): the wedge stream (Σ indeg·outdeg
    // rows, the big intermediate) previously reached the e3 join
    // through a 32-partition ENSURE_REQUIREMENTS exchange whose
    // per-task SMJ sort spilled at commodity heaps. The wedge total is
    // known from the oriented degree tables BEFORE any join runs, so
    // the stream is explicitly hash-partitioned by the e3 join's exact
    // key pair (s, t) into ≈ totalWedges/budget partitions — Spark
    // reuses the layout (no re-exchange) and each task sorts ≈ budget
    // wedges. (s, t) pairs are fine-grained, so no salting is needed
    // on this leg; the e1⋈e2 join itself sorts only EDGES (small).
    val s = oriented.sparkSession
    // wedge bill Σ_e outdeg(t(e)) = Σ_m outdeg(m)·indeg(m), priced in
    // ONE union+groupBy pass over the checkpointed edges (r16: the
    // former groupBy + join + agg spelling paid a second shuffle and an
    // extra AQE stage job for the same two numbers; edge count rides
    // along as Σ outdeg)
    val stats = oriented
      .select(col("s").as("n"), lit(1L).as("o"), lit(0L).as("i"))
      .unionAll(oriented.select(col("t").as("n"), lit(0L).as("o"), lit(1L).as("i")))
      .groupBy(col("n")).agg(sum(col("o")).as("od"), sum(col("i")).as("ind"))
      .agg(coalesce(sum(col("od") * col("ind")), lit(0L)).as("tw"),
        coalesce(sum(col("od")), lit(0L)).as("ne")).head()
    val totalWedges = stats.getLong(0)
    val edgeCount = stats.getLong(1)
    checkWedgeCap(s, totalWedges, "orientedTriangles")
    val nParts = math.max(s.sparkContext.defaultParallelism.toLong,
      math.min(4096L, 2L * totalWedges / wedgeBudget(s) + 1L)).toInt
    if (edgeCount <= broadcastEdgeCap(s)) {
      // Broadcast closure: both join legs are the (sparsified, capped)
      // edge list itself — small enough to ship to every task — so the
      // wedge stream NEVER shuffles: it is generated, closed against
      // e3's hash table, and folded into the per-node aggregate inside
      // one stage. The e1 leg is pre-spread to ≈ wedgeBudget wedges per
      // task (per-row weight = outdeg⁺(t) ≤ O(√E) under the degree
      // orientation, far below the budget, so (s, t) hashing spreads
      // evenly) — bounding both task CPU and partial-agg state.
      oriented.repartition(nParts, col("s"), col("t")).as("e1")
        .join(broadcast(oriented.as("e2")), col("e1.t") === col("e2.s"))
        .join(broadcast(oriented.as("e3")),
          col("e3.s") === col("e1.s") && col("e3.t") === col("e2.t"))
        .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    } else {
      // Shuffle closure (edge list beyond broadcast size — the 100-TB
      // regime): the wedge stream reaches the e3 join through an
      // explicit hash partitioning on the join's exact key pair (s, t)
      // into ≈ totalWedges/budget partitions — Spark reuses the layout
      // (no ENSURE_REQUIREMENTS re-exchange) and each task sorts
      // ≈ budget wedges instead of a 1/32 share of all of them. (s, t)
      // pairs are fine-grained, so no salting is needed on this leg;
      // the e1⋈e2 join itself sorts only EDGES (small).
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"), col("e1.t") === col("e2.s"))
        .select(col("e1.s").as("ws"), col("e1.t").as("wm"),
          col("e2.t").as("wt"))
      wedges.repartition(nParts, col("ws"), col("wt"))
        .join(oriented.as("e3"),
          col("e3.s") === col("ws") && col("e3.t") === col("wt"))
        .select(col("ws").as("a"), col("wm").as("b"), col("wt").as("c"))
    }
  }

  private def g06(s: SparkSession, dir: String): DataFrame = {
    val tri = orientedTriangles(coSupplyEdges(s, dir))
    // ONE pass over the triangle stream (round 12): the previous
    // total-count aggregate + three-way projection union repeated the
    // un-cacheable closure subtree FOUR times in the physical plan
    // (caching the stream itself would materialize Θ(triangles) rows —
    // wrong on dense graphs). explode folds the three corners in one
    // traversal; the checkpointed per-node table is |nodes|-sized and
    // the total is its sum/3 (each triangle contributes three corners).
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .localCheckpoint() // feeds the total AND the top-10 rank
    val total = perNode
      .agg(expr("CAST(sum(n_tri) div 3 AS BIGINT)").as("n_triangles"))
    val wTop = Window.orderBy(col("n_tri").desc, col("node").asc)
    perNode.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 10)
      .select(col("rank"), col("node"), col("n_tri"), col("n_triangles"))
      .orderBy(col("rank"))
  }
  private val g06Sql =
    s"""WITH $coSupplyEdgesCte,
      |tri AS (
      | SELECT e1.u AS a, e1.v AS b, e2.v AS c
      | FROM edges e1 JOIN edges e2 ON e1.v = e2.u
      | JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
      |pernode AS (
      | SELECT node, COUNT(*) AS n_tri
      | FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1)
      |SELECT rank, node, n_tri, n_triangles
      |FROM (SELECT node, n_tri,
      |       ROW_NUMBER() OVER (ORDER BY n_tri DESC, node ASC) AS rank,
      |       CAST(SUM(n_tri) OVER () // 3 AS BIGINT) AS n_triangles
      |      FROM pernode)
      |WHERE rank <= 10 ORDER BY rank""".stripMargin

  // ---- g07: PERSONALIZED PageRank (teleport to a seed set) -----------------
  // The recommendation / relevance-propagation variant: restart mass
  // teleports to the SEED nodes (hub buckets < 5) instead of
  // uniformly, so rank measures proximity to the seeds. Same graph,
  // same checkpointed edge table, same integer fixed-point discipline
  // as g05 — the only change is where the (1−d) mass and the dangling
  // mass land (seeds only). Scale shape identical to g05.
  private val pprSeedMax = 5L
  private def g07(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val edges = li
      .select(col("l_suppkey").as("src"), (col("l_partkey") % 97).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = edges.join(deg, "src").localCheckpoint()
    val nodes = edgesDeg.select(col("src").as("node"))
      .union(edgesDeg.select(col("dst").as("node")))
      .distinct()
      .withColumn("seed", col("node") < pprSeedMax)
      .localCheckpoint()
    val srcs = edgesDeg.select(col("src")).distinct()
    val nSeeds = nodes.filter(col("seed")).count()
    require(nSeeds > 0, "g07: empty seed set")
    // start all mass on the seeds
    var pr = nodes.withColumn("prm",
      when(col("seed"), lit(1000000L / nSeeds)).otherwise(lit(0L)))
    for (_ <- 1 to prIters) {
      val inc = edgesDeg.join(pr, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("prm div outdeg")).as("inc"))
      val dang = pr.join(srcs, col("node") === col("src"), "left_anti")
        .agg(coalesce(sum(col("prm")), lit(0L)).as("dm"))
      pr = nodes.join(inc, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), col("seed"),
          expr(
            s"""(CASE WHEN seed THEN ${150000L / nSeeds} ELSE 0 END) +
               | (85 * (coalesce(inc, 0) +
               |        (CASE WHEN seed THEN dm div $nSeeds ELSE 0 END))) div 100"""
              .stripMargin).as("prm"))
    }
    pr.select(col("node"), col("seed"), col("prm"),
        (col("prm").cast("double") / 1e6).cast("float").as("ppr"))
      .orderBy(col("node"))
  }
  private val g07Sql = {
    val prIter = (i: Int) =>
      s"""inc$i AS (
         | SELECT e.dst AS node, CAST(SUM(p.prm // e.outdeg) AS BIGINT) AS inc
         | FROM edeg e JOIN pr${i - 1} p ON p.node = e.src GROUP BY 1),
         |dang$i AS (
         | SELECT CAST(COALESCE(SUM(p.prm), 0) AS BIGINT) AS dm
         | FROM pr${i - 1} p LEFT JOIN (SELECT DISTINCT src FROM edges) s
         |   ON s.src = p.node WHERE s.src IS NULL),
         |pr$i AS (
         | SELECT nd.node, nd.seed,
         |  (CASE WHEN nd.seed THEN 150000 // (SELECT ns FROM nseeds) ELSE 0 END) +
         |   (85 * (COALESCE(i.inc, 0) +
         |      (CASE WHEN nd.seed
         |       THEN (SELECT dm FROM dang$i) // (SELECT ns FROM nseeds)
         |       ELSE 0 END))) // 100 AS prm
         | FROM nodes nd LEFT JOIN inc$i i ON i.node = nd.node)"""
    s"""WITH edges AS (
       | SELECT DISTINCT l_suppkey AS src, l_partkey % 97 AS dst
       | FROM lineitem WHERE l_suppkey != l_partkey % 97),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |edeg AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
       |nodes AS (
       | SELECT node, node < $pprSeedMax AS seed FROM (
       |  SELECT DISTINCT node FROM (
       |   SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))),
       |nseeds AS (SELECT COUNT(*) AS ns FROM nodes WHERE seed),
       |pr0 AS (
       | SELECT node, seed,
       |  CASE WHEN seed THEN 1000000 // (SELECT ns FROM nseeds) ELSE 0 END AS prm
       | FROM nodes),
       |${(1 to prIters).map(prIter).mkString(",\n")}
       |SELECT node, seed, prm,
       | CAST(CAST(prm AS DOUBLE) / 1e6 AS REAL) AS ppr
       |FROM pr$prIters ORDER BY node""".stripMargin
  }

  // ---- g08: multi-source BFS hop distance ---------------------------------
  // Frontier-expansion breadth-first search: minimum hop count from a
  // seed set over the sparsified supplier–part bipartite graph
  // (supplier ↔ part edges where l_quantity < 3; part ids offset by
  // 1e6 so the two node spaces stay disjoint). The k-hop neighborhood
  // primitive under "find everything within N links of these nodes" —
  // crawl frontier scheduling, contamination blast-radius, account
  // link analysis.
  //
  // Scale design: the undirected edge list is built ONCE and
  // localCheckpoint'ed; each round joins the CURRENT FRONTIER ONLY
  // (not the full visited set) against it, anti-joins out already-
  // visited nodes, and checkpoints — so round h costs one shuffle
  // proportional to the frontier's edge neighborhood, the visited set
  // grows monotonically, and lineage stays flat (the d06/d12
  // discipline). All-integer (node ids and hop counts), so the
  // cross-engine hash cannot drift. The oracle is an independent
  // algebra: DuckDB's WITH RECURSIVE fixpoint with the same hop cap,
  // min-hop per node.
  private val bfsMaxHops = 6
  private def g08(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val fwd = li.filter(col("l_quantity") < 3)
      .select(col("l_suppkey").as("src"),
        (col("l_partkey") + 1000000L).as("dst"))
      .distinct()
    val und = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var dist = und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node")))
      .distinct()
      .filter(col("node") < 5L)
      .withColumn("hop", lit(0L))
      .localCheckpoint()
    // NOTE (r16): the d22/g13 two-rounds-per-checkpoint batching was
    // tried here and measured SLOWER (2.1 vs 1.5 s steady, job count
    // flat at ~37): this recurrence references `dist` three times per
    // hop (frontier filter, anti-join, union), so the batched plan
    // re-executes the frontier join per reference and the extra AQE
    // stages eat the checkpoint saving. Checkpoint-per-hop stays.
    for (h <- 1 to bfsMaxHops) {
      val frontier = dist.filter(col("hop") === (h - 1).toLong)
      val next = frontier.join(und, frontier("node") === und("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
      dist = dist.union(next).localCheckpoint()
    }
    dist.orderBy(col("node"))
  }
  private val g08Sql =
    s"""WITH RECURSIVE edges AS (
       | SELECT DISTINCT l_suppkey AS src, 1000000 + l_partkey AS dst
       | FROM lineitem WHERE l_quantity < 3),
       |und AS (
       | SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |seeds AS (
       | SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
       | WHERE node < 5),
       |walk(node, hop) AS (
       | SELECT node, CAST(0 AS BIGINT) AS hop FROM seeds
       | UNION
       | SELECT u.dst, w.hop + 1 FROM walk w JOIN und u ON u.src = w.node
       | WHERE w.hop < $bfsMaxHops)
       |SELECT node, MIN(hop) AS hop FROM walk GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- g09: synchronous label propagation (3 iterations) -------------------
  // Community detection over the undirected supplier–hub graph — the
  // label-propagation algorithm (Raghavan et al. 2007) in its
  // deterministic synchronous form: every node starts as its own
  // community, and each round adopts the label most frequent among its
  // neighbors, ties broken by SMALLEST label (the random tie-break of
  // the paper is replaced by a total order so both engines agree
  // bit-for-bit). Fixed iteration count mirrors g05's discipline —
  // convergence detection would be a driver-side count, the rounds
  // themselves are pure integer relational algebra.
  //
  // Scale design: the symmetrized edge table is checkpointed ONCE; a
  // round is one join keyed by neighbor + one (node,label) aggregate +
  // one per-node argmax window PARTITIONED by node (distributed — never
  // a global window); labels checkpoint per round to cap lineage
  // exactly as d12's contraction rounds do. At 100 TB this is the
  // textbook Pregel-on-relations shape: per-round cost is one shuffle
  // of the edge table, state is one row per node.
  private val lpIters = 3
  private def g09(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val e0 = li
      .select(col("l_suppkey").as("a"), (col("l_partkey") % 97).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    var lab = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to lpIters) {
      val cnt = edges.join(lab, col("b") === col("node"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("a"))
        .orderBy(col("cnt").desc, col("label").asc)
      lab = cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a").as("node"), col("label"))
    }
    // one checkpoint after the fixed 3 rounds: lineage depth is bounded
    // by the iteration constant, so per-round materialization (d12's
    // convergence-loop necessity) would only add scheduler overhead here
    lab = lab.localCheckpoint()
    val sizes = lab.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    lab.join(sizes, "label")
      .select(col("node"), col("label"), col("community_size"))
      .orderBy(col("node"))
  }
  private val g09Sql = {
    val iter = (i: Int) =>
      s"""lab$i AS (
         | SELECT node, label FROM (
         |  SELECT e.a AS node, l.label, COUNT(*) AS cnt,
         |   ROW_NUMBER() OVER (PARTITION BY e.a
         |     ORDER BY COUNT(*) DESC, l.label ASC) AS rn
         |  FROM edges e JOIN lab${i - 1} l ON l.node = e.b
         |  GROUP BY e.a, l.label)
         | WHERE rn = 1)"""
    s"""WITH e0 AS (
       | SELECT DISTINCT l_suppkey AS a, l_partkey % 97 AS b
       | FROM lineitem WHERE l_suppkey != l_partkey % 97),
       |edges AS (
       | SELECT DISTINCT a, b FROM (
       |  SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0)),
       |lab0 AS (SELECT DISTINCT a AS node, a AS label FROM edges),
       |${(1 to lpIters).map(iter).mkString(",\n")},
       |sizes AS (SELECT label, COUNT(*) AS community_size
       |          FROM lab$lpIters GROUP BY 1)
       |SELECT t.node, t.label, s.community_size
       |FROM lab$lpIters t JOIN sizes s USING (label) ORDER BY t.node""".stripMargin
  }

  // ---- g10: HITS hubs & authorities (2 fixed-point iterations) -------------
  // Kleinberg's HITS — the two mutually recursive scores PageRank
  // collapses into one: authorities are pointed at by good hubs,
  // hubs point at good authorities. On the supplier→part-hub graph
  // this splits "widely-sourced parts" (authorities) from
  // "broad-catalog suppliers" (hubs). Same determinism discipline as
  // g05: scores are integer micro-units, each half-step is one
  // edge-keyed join + sum, and the per-round max-normalization
  // (score·10⁶ div max — HITS's usual L∞ choice phrased in integer
  // division) keeps every value exact however the partial sums merge.
  // One checkpointed edge table; per-round cost is two keyed shuffles.
  private val hitsIters = 2
  private def g10(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val edges = li
      .select(col("l_suppkey").as("src"), (col("l_partkey") % 97).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().localCheckpoint()
    var hub = nodes.withColumn("h", lit(1000000L))
    var auth: DataFrame = null
    for (_ <- 1 to hitsIters) {
      val aRaw = edges.join(hub, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("h")).as("raw"))
      val aFull = nodes.join(aRaw, col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
      auth = aFull.crossJoin(broadcast(aFull.agg(max(col("raw")).as("mx"))))
        .select(col("node"), expr("(raw * 1000000) div mx").as("a"))
      val hRaw = edges.join(auth, col("dst") === col("node"))
        .groupBy(col("src")).agg(sum(col("a")).as("raw"))
      val hFull = nodes.join(hRaw, col("node") === col("src"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
      hub = hFull.crossJoin(broadcast(hFull.agg(max(col("raw")).as("mx"))))
        .select(col("node"), expr("(raw * 1000000) div mx").as("h"))
    }
    auth.join(hub, "node")
      .select(col("node"), col("a").as("auth_m"), col("h").as("hub_m"),
        (col("a").cast("double") / 1e6).cast("float").as("auth"),
        (col("h").cast("double") / 1e6).cast("float").as("hub"))
      .orderBy(col("node"))
  }
  private val g10Sql = {
    val iter = (i: Int) =>
      s"""a${i}r AS (
         | SELECT n.node, CAST(COALESCE(SUM(t.h), 0) AS BIGINT) AS r
         | FROM nodes n LEFT JOIN (
         |  SELECT e.dst, h.h FROM edges e JOIN h${i - 1} h ON h.node = e.src) t
         |  ON t.dst = n.node GROUP BY 1),
         |a$i AS (SELECT node,
         |  (r * 1000000) // (SELECT MAX(r) FROM a${i}r) AS a FROM a${i}r),
         |h${i}r AS (
         | SELECT n.node, CAST(COALESCE(SUM(t.a), 0) AS BIGINT) AS r
         | FROM nodes n LEFT JOIN (
         |  SELECT e.src, a.a FROM edges e JOIN a$i a ON a.node = e.dst) t
         |  ON t.src = n.node GROUP BY 1),
         |h$i AS (SELECT node,
         |  (r * 1000000) // (SELECT MAX(r) FROM h${i}r) AS h FROM h${i}r)"""
    s"""WITH edges AS (
       | SELECT DISTINCT l_suppkey AS src, l_partkey % 97 AS dst
       | FROM lineitem WHERE l_suppkey != l_partkey % 97),
       |nodes AS (
       | SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |h0 AS (SELECT node, 1000000 AS h FROM nodes),
       |${(1 to hitsIters).map(iter).mkString(",\n")}
       |SELECT a.node, a.a AS auth_m, h.h AS hub_m,
       | CAST(CAST(a.a AS DOUBLE) / 1e6 AS REAL) AS auth,
       | CAST(CAST(h.h AS DOUBLE) / 1e6 AS REAL) AS hub
       |FROM a$hitsIters a JOIN h$hitsIters h USING (node)
       |ORDER BY node""".stripMargin
  }

  // ---- g11: k-core decomposition (fixed-round peeling) --------------------
  // The density filter of community mining (Seidman 1983): repeatedly
  // delete every node of degree < k; what survives is the k-core.
  // Simultaneous deletion per round is deterministic (no tie-break
  // order), so the d06 fixed-round contract applies: BOTH engines run
  // exactly `kcoreRounds` peels and match even if a long cascade has
  // not converged. Graph: supplier ↔ part-bucket co-purchase edges
  // (≥ 2 lineitems), hub ids offset so the two node namespaces never
  // collide. Per round: one semi-join of the (checkpointed) symmetric
  // edge list against the survivor set per side + one degree groupBy —
  // at scale both are key-partitioned shuffles of the EDGE table, and
  // the survivor set only shrinks. Output: the k-core with in-core
  // degrees.
  private val kcoreK = 8
  private val kcoreRounds = 6
  private def g11(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val e = li.groupBy(col("l_suppkey").as("src"),
        (col("l_partkey") % 997 + 100000L).as("dst"))
      .agg(count(lit(1)).as("m")).filter(col("m") >= 2)
      .select(col("src"), col("dst"))
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint() // every peel round re-reads THIS
    var surv = sym.select(col("src").as("node")).distinct().localCheckpoint()
    // NOTE (r16): the d22/g13 two-rounds-per-checkpoint batching was
    // tried here and measured FLAT (jobs 39 -> 28 but steady unchanged):
    // each peel round references `surv` twice and the batched pair
    // re-executes the full edge-table degree join per reference, eating
    // exactly the job saving. Checkpoint-per-round stays.
    var deg = surv // placeholder; rebound each round
    for (_ <- 1 to kcoreRounds) {
      deg = sym
        .join(surv.select(col("node").as("src")), "src")
        .join(surv.select(col("node").as("dst")), "dst")
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
      surv = deg.filter(col("deg") >= kcoreK).select(col("node")).localCheckpoint()
    }
    // final in-core degrees over the surviving node set
    sym.join(surv.select(col("node").as("src")), "src")
      .join(surv.select(col("node").as("dst")), "dst")
      .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"))
      .orderBy(col("node"))
  }
  private val g11Sql = {
    val round = (r: Int) =>
      s"""d$r AS MATERIALIZED (
         | SELECT e.src AS node, COUNT(*) AS deg
         | FROM sym e JOIN s${r - 1} a ON e.src = a.node
         |            JOIN s${r - 1} b ON e.dst = b.node
         | GROUP BY 1),
         |s$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $kcoreK)"""
    s"""WITH e AS (
       | SELECT l_suppkey AS src, l_partkey % 997 + 100000 AS dst
       | FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |sym AS MATERIALIZED (
       | SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
       |${(1 to kcoreRounds).map(round).mkString(",\n")}
       |SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
       |FROM sym e JOIN s$kcoreRounds a ON e.src = a.node
       |           JOIN s$kcoreRounds b ON e.dst = b.node
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- g12: landmark harmonic closeness centrality --------------------------
  // The sampled-closeness estimator every large-graph toolkit ships
  // (exact closeness is all-pairs; landmark BFS approximates it with L
  // sources — Eppstein & Wang 2004): harmonic closeness(v) =
  // Σ_landmarks 1/d(lm, v). Scale design: all L BFS runs advance as ONE
  // labeled frontier — state (landmark, node, hop), frontier-only
  // expansion, (lm, node)-keyed anti-join, checkpoint per round — so
  // each hop costs one shuffle TOTAL regardless of L (running L
  // separate BFS loops would cost L× the scans and L× the rounds).
  // Distances are integers; 1/d is micro-quantized per (lm, v) and
  // summed exactly. g08's graph and hop cap; landmarks = supplier
  // nodes 0..3.
  private def g12(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val fwd = li.filter(col("l_quantity") < 3)
      .select(col("l_suppkey").as("src"),
        (col("l_partkey") + 1000000L).as("dst"))
      .distinct()
    val und = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var dist = und.select(col("src").as("node"))
      .union(und.select(col("dst").as("node")))
      .distinct()
      .filter(col("node") < 4L)
      .select(col("node").as("lm"), col("node"), lit(0L).as("hop"))
      .localCheckpoint()
    // NOTE (r16): two-hops-per-checkpoint batching measured SLOWER here
    // (see g08 — the 3-reference recurrence re-executes the frontier
    // join per reference); checkpoint-per-hop stays.
    for (h <- 1 to bfsMaxHops) {
      val frontier = dist.filter(col("hop") === (h - 1).toLong)
      val next = frontier.join(und, frontier("node") === und("src"))
        .select(col("lm"), col("dst").as("node")).distinct()
        .join(dist, Seq("lm", "node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
      dist = dist.union(next).localCheckpoint()
    }
    dist.filter(col("hop") >= 1L)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_landmarks"),
        sum(expr("CAST(FLOOR(1000000.0 / CAST(hop AS DOUBLE) + 0.5) AS BIGINT)"))
          .as("harm_micro"))
      .select(col("node"), col("n_landmarks"), col("harm_micro"),
        (col("harm_micro").cast("double") / 1000000.0).cast("float")
          .as("closeness"))
      .orderBy(col("node"))
  }
  private val g12Sql =
    s"""WITH RECURSIVE edges AS (
       | SELECT DISTINCT l_suppkey AS src, 1000000 + l_partkey AS dst
       | FROM lineitem WHERE l_quantity < 3),
       |und AS (
       | SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |lms AS (
       | SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
       | WHERE node < 4),
       |walk(lm, node, hop) AS (
       | SELECT node AS lm, node, CAST(0 AS BIGINT) AS hop FROM lms
       | UNION
       | SELECT w.lm, u.dst, w.hop + 1
       | FROM walk w JOIN und u ON u.src = w.node
       | WHERE w.hop < $bfsMaxHops),
       |dmin AS (
       | SELECT lm, node, MIN(hop) AS hop FROM walk GROUP BY 1, 2)
       |SELECT node, COUNT(*) AS n_landmarks,
       | CAST(SUM(CAST(FLOOR(1000000.0 / CAST(hop AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT)
       |   AS harm_micro,
       | CAST(CAST(SUM(CAST(FLOOR(1000000.0 / CAST(hop AS DOUBLE) + 0.5) AS BIGINT)) AS DOUBLE)
       |   / 1000000.0 AS REAL) AS closeness
       |FROM dmin WHERE hop >= 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- g13: strongly connected components (directed) ------------------------
  // The one classic graph decomposition the family lacked: SCC over a
  // DIRECTED graph, by the coloring / forward-backward algorithm
  // distributed systems use (Orzan 2004; FW-BW of Fleischer et al.):
  // per round, (1) propagate the MIN reachable id forward (the color),
  // (2) mark nodes that reach their color's owner THROUGH their own
  // color class (backward pass restricted to equal color), (3) every
  // marked node is classified into SCC(owner) — correct because owner
  // reaches v (colors flow forward) and v reaches owner — and removed;
  // repeat. Both passes run a FIXED hop schedule and the round count is
  // fixed (the suite's deterministic-iteration contract: the oracle
  // replays the identical schedule as MATERIALIZED CTEs, and at 100 TB
  // the same loop runs with convergence counters + checkpoints, the
  // d06/d12 discipline). Directed edges are derived from events
  // (user_id → (31·user_id + ⌊value⌋) mod 150 for value < 8 — ≤ 8
  // out-edges per node, cycle-rich); everything is integer.
  private val sccRounds = 2
  private val sccHops = 6
  private def g13(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val edges = ev.filter(col("value") < 8.0)
      .select(col("user_id").as("src"),
        ((col("user_id") * 31 + expr("CAST(FLOOR(value) AS BIGINT)")) % 150)
          .as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint()
    val allNodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().localCheckpoint()
    var active = allNodes
    var classified = allNodes.filter(lit(false))
      .withColumn("scc_id", col("node")) // empty, schema (node, scc_id)
    for (_ <- 1 to sccRounds) {
      val eAct = edges
        .join(active.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(active.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .localCheckpoint()
      // forward min-id color propagation, fixed hops. Checkpoint every
      // TWO hops (r16): one hop references the previous color table
      // twice, so an uncheckpointed chain doubles per hop — but two hops
      // on a checkpointed LEAF is only 4 scans of an in-memory table,
      // while the eager-checkpoint job count (the dominant cost: 91
      // scheduled jobs for this query at ~45 ms each) drops by half.
      // (Batching 4-deep was measured slower in r15 — Catalyst planning
      // depth overtakes the job saving at 16 leaf refs; 2-deep is the
      // measured sweet spot.) Same fixed hop count, identical colors.
      var c = active.select(col("node"), col("node").as("c"))
      var hf = 0
      while (hf < sccHops) {
        val step = math.min(2, sccHops - hf)
        var cc = c
        for (_ <- 1 to step) {
          val inMin = eAct
            .join(cc.withColumnRenamed("node", "src").withColumnRenamed("c", "cs"),
              Seq("src"))
            .groupBy(col("dst").as("node")).agg(min(col("cs")).as("cin"))
          cc = cc.join(inMin, Seq("node"), "left")
            .select(col("node"),
              least(col("c"), coalesce(col("cin"), col("c"))).as("c"))
        }
        c = cc.localCheckpoint()
        hf += step
      }
      // backward reach to the color owner, restricted to the color class
      // (same two-hops-per-checkpoint batching as the forward pass)
      var m = c.withColumn("m", (col("node") === col("c")).cast("int"))
      var hb = 0
      while (hb < sccHops) {
        val step = math.min(2, sccHops - hb)
        var mm = m
        for (_ <- 1 to step) {
          val hits = eAct
            .join(mm.select(col("node").as("dst"), col("c").as("wc"),
              col("m").as("wm")), Seq("dst"))
            .filter(col("wm") === 1)
            .select(col("src").as("node"), col("wc").as("c"))
            .distinct().withColumn("hit", lit(1))
          mm = mm.join(hits, Seq("node", "c"), "left")
            .select(col("node"), col("c"),
              greatest(col("m"), coalesce(col("hit"), lit(0))).as("m"))
        }
        m = mm.localCheckpoint()
        hb += step
      }
      val cls = m.filter(col("m") === 1)
        .select(col("node"), col("c").as("scc_id"))
      classified = classified.union(cls).localCheckpoint()
      active = active.join(cls, Seq("node"), "left_anti").localCheckpoint()
    }
    // unclassified (possible at tiny SF where the sparse graph's chains
    // exceed the hop cap; the gate-scale graph classifies fully) carry
    // the -1/0 sentinels — NOT nulls, because a nullable int column's
    // pandas dtype depends on whether nulls are present, which makes
    // the driver's dtype probe row-content-dependent
    val all = classified
      .union(active.withColumn("scc_id", lit(-1L)))
    val sizes = classified.groupBy(col("scc_id").as("sid"))
      .agg(count(lit(1)).as("scc_size"))
    all.join(sizes, all("scc_id") === sizes("sid"), "left")
      .select(col("node"), col("scc_id"),
        coalesce(col("scc_size"), lit(0L)).as("scc_size"))
      .orderBy(col("node"))
  }
  private val g13Sql = {
    def colorHop(r: Int, k: Int): String = {
      val p = s"c${r}_${k - 1}"
      s"""c${r}_$k AS MATERIALIZED (
         | SELECT c.node, LEAST(c.c, COALESCE(i.cin, c.c)) AS c
         | FROM $p c LEFT JOIN (
         |  SELECT e.dst AS node, MIN(s.c) AS cin
         |  FROM e$r e JOIN $p s ON s.node = e.src GROUP BY 1) i
         | USING (node))"""
    }
    def markHop(r: Int, k: Int): String = {
      val p = s"m${r}_${k - 1}"
      s"""m${r}_$k AS MATERIALIZED (
         | SELECT t.node, t.c, GREATEST(t.m, COALESCE(h.hit, 0)) AS m
         | FROM $p t LEFT JOIN (
         |  SELECT DISTINCT e.src AS node, w.c, 1 AS hit
         |  FROM e$r e JOIN $p w ON w.node = e.dst AND w.m = 1) h
         | USING (node, c))"""
    }
    def round(r: Int): String = {
      val prevActive = if (r == 1) "a0" else s"a${r - 1}"
      s"""e$r AS MATERIALIZED (
         | SELECT src, dst FROM edges
         | WHERE src IN (SELECT node FROM $prevActive)
         |   AND dst IN (SELECT node FROM $prevActive)),
         |c${r}_0 AS MATERIALIZED (SELECT node, node AS c FROM $prevActive),
         |${(1 to sccHops).map(colorHop(r, _)).mkString(",\n")},
         |m${r}_0 AS MATERIALIZED (
         | SELECT node, c, CASE WHEN node = c THEN 1 ELSE 0 END AS m
         | FROM c${r}_$sccHops),
         |${(1 to sccHops).map(markHop(r, _)).mkString(",\n")},
         |cls$r AS MATERIALIZED (
         | SELECT node, c AS scc_id FROM m${r}_$sccHops WHERE m = 1),
         |a$r AS MATERIALIZED (
         | SELECT node FROM $prevActive
         | WHERE node NOT IN (SELECT node FROM cls$r))"""
    }
    s"""WITH edges AS MATERIALIZED (
       | SELECT DISTINCT user_id AS src,
       |  (user_id * 31 + CAST(FLOOR(value) AS BIGINT)) % 150 AS dst
       | FROM events WHERE value < 8.0
       |   AND user_id != (user_id * 31 + CAST(FLOOR(value) AS BIGINT)) % 150),
       |a0 AS MATERIALIZED (
       | SELECT DISTINCT node FROM (
       |  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |${(1 to sccRounds).map(round).mkString(",\n")},
       |classified AS (
       | ${(1 to sccRounds).map(r => s"SELECT node, scc_id FROM cls$r")
            .mkString(" UNION ALL ")}),
       |allnodes AS (
       | SELECT node, scc_id FROM classified
       | UNION ALL
       | SELECT node, CAST(-1 AS BIGINT) FROM a$sccRounds),
       |sizes AS (SELECT scc_id AS sid, COUNT(*) AS scc_size
       |          FROM classified GROUP BY 1)
       |SELECT a.node, a.scc_id,
       | CAST(COALESCE(s.scc_size, 0) AS BIGINT) AS scc_size
       |FROM allnodes a LEFT JOIN sizes s ON a.scc_id = s.sid
       |ORDER BY a.node""".stripMargin
  }

  // ---- g14: Newman modularity of the LPA partition ---------------------------
  // Quality score for g09's communities: Q = Σ_c [ L_c/m − (D_c/2m)² ]
  // (Newman & Girvan 2004) over the same undirected supplier–hub graph.
  // L_c = edges with both endpoints in c, D_c = degree sum of c, m =
  // total undirected edges. The partition is g09's verbatim (label
  // reuse, not re-derivation, so the two queries can never drift).
  //
  // Scale design: one edge⋈label join per endpoint (the labels table is
  // one row per node — shuffle-join keyed by node id), one groupBy per
  // community, and the global m arrives as a broadcast 1-row aggregate
  // (the s06 fan-out discipline — never a collect). Per-community
  // contributions are micro-quantized AFTER the arithmetic, and the
  // total is a sum of the already-quantized longs so both engines add
  // exact integers. The divisions/multiplies are plain IEEE doubles on
  // integer inputs, identical operation order on both engines; pow() is
  // avoided in favor of explicit self-multiplication (DuckDB's POW may
  // round differently).
  private def g14(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val e0 = li.select(col("l_suppkey").as("a"), (col("l_partkey") % 97).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val tot = edges.agg((count(lit(1)).cast("double") / lit(2.0)).as("m"))
    // replay g09's label rounds, scoring the partition after EVERY round
    // (round 0 = singletons) — the modularity trajectory is what decides
    // how many LPA rounds to run; on the dense hub graph it collapses to
    // one community (Q -> 0), which the trajectory makes visible instead
    // of hiding behind the final partition alone
    def qOf(lab: DataFrame, r: Int): DataFrame = {
      val lbl = edges
        .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
        .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
      val per = lbl.groupBy(col("la").as("label"))
        .agg((sum(when(col("la") === col("lb"), 1L).otherwise(0L))
          .cast("double") / lit(2.0)).as("l_in"),
          count(lit(1)).cast("double").as("d_c"))
      val frac = col("d_c") / (col("m") * lit(2.0))
      per.crossJoin(broadcast(tot))
        .select(floor(lit(1e6) * (col("l_in") / col("m") - frac * frac)
          + lit(0.5)).cast("long").as("q_micro"))
        .agg(count(lit(1)).as("n_comm"), sum(col("q_micro")).as("q_total_micro"))
        .select(lit(r.toLong).as("round"), col("n_comm"), col("q_total_micro"))
    }
    var lab = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var out = qOf(lab, 0)
    // NOTE (r16): removing the in-loop checkpoints (deriving all rounds
    // in one final plan) was tried and measured SLOWER (3.7-4.8 vs
    // 2.9-4.0 s: the O(rounds²) re-derivation plus ~50 extra codegen
    // fragments per run outweigh the saved checkpoint jobs).
    // Checkpoint-per-round stays.
    for (r <- 1 to lpIters) {
      val cnt = edges.join(lab, col("b") === col("node"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("a"))
        .orderBy(col("cnt").desc, col("label").asc)
      lab = cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a").as("node"), col("label")).localCheckpoint()
      out = out.union(qOf(lab, r))
    }
    out.orderBy(col("round"))
  }
  private val g14Sql = {
    val iter = (i: Int) =>
      s"""lab$i AS (
         | SELECT node, label FROM (
         |  SELECT e.a AS node, l.label, COUNT(*) AS cnt,
         |   ROW_NUMBER() OVER (PARTITION BY e.a
         |     ORDER BY COUNT(*) DESC, l.label ASC) AS rn
         |  FROM edges e JOIN lab${i - 1} l ON l.node = e.b
         |  GROUP BY e.a, l.label)
         | WHERE rn = 1)"""
    val qOf = (r: Int) =>
      s"""lbl$r AS (
         | SELECT la.label AS la, lb.label AS lb
         | FROM edges e
         | JOIN lab$r la ON la.node = e.a
         | JOIN lab$r lb ON lb.node = e.b),
         |per$r AS (
         | SELECT la AS label,
         |  CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS DOUBLE) / 2.0
         |    AS l_in,
         |  CAST(COUNT(*) AS DOUBLE) AS d_c
         | FROM lbl$r GROUP BY 1),
         |row$r AS (
         | SELECT CAST($r AS BIGINT) AS round,
         |  COUNT(*) AS n_comm,
         |  CAST(SUM(CAST(FLOOR(1e6 * (l_in / m
         |    - (d_c / (m * 2.0)) * (d_c / (m * 2.0))) + 0.5) AS BIGINT))
         |   AS BIGINT) AS q_total_micro
         | FROM per$r CROSS JOIN tot)"""
    s"""WITH e0 AS (
       | SELECT DISTINCT l_suppkey AS a, l_partkey % 97 AS b
       | FROM lineitem WHERE l_suppkey != l_partkey % 97),
       |edges AS (
       | SELECT DISTINCT a, b FROM (
       |  SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0)),
       |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) / 2.0 AS m FROM edges),
       |lab0 AS (SELECT DISTINCT a AS node, a AS label FROM edges),
       |${(1 to lpIters).map(iter).mkString(",\n")},
       |${(0 to lpIters).map(qOf).mkString(",\n")}
       |${(0 to lpIters).map(r => s"SELECT * FROM row$r")
          .mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin
  }

  // ---- g15: Adamic-Adar link prediction ------------------------------------
  // The classic common-neighbor link predictor (Adamic & Adar 2003;
  // Liben-Nowell & Kleinberg 2007): for a NON-adjacent pair (u, v),
  //   AA(u,v) = sum over common neighbors w of 1 / ln(deg(w)),
  // down-weighting promiscuous hubs. Graph = g06's threshold-sparsified
  // co-supply edges (the shared derivation convention of the family),
  // symmetrized. Per-term determinism: deg(w) is an exact long, so
  // 1/ln(deg) is the same IEEE double on both engines and micro-
  // quantizes to a long BEFORE the per-pair sum (order-free fold); a
  // common neighbor has >= 2 distinct neighbors by definition, so
  // ln(deg) is never 0. Output: top-3 predicted links per left node.
  //
  // Scale design: wedges are generated through the CHECKPOINTED sparse
  // edge list (one self-join keyed by the middle node — cost bounded
  // by sum deg^2 of the sparsified graph, the same budget g06 already
  // pays), existing edges leave via one anti-join, and the per-node
  // top-3 is a window PARTITIONED BY the left node over the (u,v)
  // aggregate — no global sort, no single-partition exchange.
  private def g15(s: SparkSession, dir: String): DataFrame = {
    val und = coSupplyEdges(s, dir) // feeds sym (twice), anti-join, deg
    val sym = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
    val deg = sym.groupBy(col("a").as("w")).agg(count(lit(1)).as("dw"))
      .localCheckpoint() // feeds the wedge budget, the grid, the weight
    // Wedge-budget partitioning (round-11 verdict ask #5): the wedge
    // self-join ran as a 32-partition SMJ whose join-stage partial
    // aggregation held Σ_task deg(w)² wedge pairs — 13 GiB of spill at
    // an 8 GiB heap (PLANS.md sf1 note). Total wedge work is known
    // BEFORE the join from the degree table, so:
    //  1. GRID-SALT each middle node w into p(w) = ⌈deg(w)/√B⌉ row
    //     groups per side (left cell index from hash(cu), right from
    //     hash(cv); each side replicated p ways) — a single hub key's
    //     wedge block deg(w)² splits into p² cells of ≤ B wedges, the
    //     standard all-pairs-per-key decomposition. p = 1 for every
    //     non-hub node (deg ≤ √B), so replication ≈ Σdeg²/√B rows.
    //  2. Repartition BOTH sides by the EXACT join key (w, i, j) into
    //     nParts ≈ totalWedges/B partitions — hash partitioning on the
    //     full key set satisfies the join's clustering requirement, so
    //     Spark reuses it (no ENSURE_REQUIREMENTS re-exchange) and the
    //     join + its partial aggregation run with ≈ B wedges per task.
    // deg rides in via BROADCAST joins so no SMJ breaks the layout.
    val b = wedgeBudget(s)
    val sqrtB = math.max(1L, math.sqrt(b.toDouble).toLong)
    val degStats = deg.agg(sum(col("dw") * col("dw")).as("tw"),
      count(lit(1)).as("nn")).head()
    val totalWedges = degStats.getLong(0)
    val nNodes = degStats.getLong(1)
    checkWedgeCap(s, totalWedges, "g15_adamic_adar")
    val nParts = math.max(s.sparkContext.defaultParallelism.toLong,
      math.min(4096L, 2L * totalWedges / b + 1L)).toInt
    // the degree table is (node, deg) — broadcastable until the NODE
    // count itself outgrows an executor (the same size gate as g06's
    // closure legs); past the cap it rides a shuffle join, which is
    // fine because the explicit (w, i, j) repartition BELOW re-imposes
    // the wedge-budget layout regardless of the deg join's strategy
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nNodes <= broadcastEdgeCap(s)) broadcast(df) else df
    val degP = deg.select(col("w"),
      ((col("dw") + sqrtB - 1L) / sqrtB).cast("long").as("p"))
    // wedge u -w- v with u < v over symmetric edges; each common
    // neighbor contributes once per (u, v) — grid cells are disjoint
    // (the pair meets exactly in cell (hash(cu)%p, hash(cv)%p))
    val x = sym.select(col("b").as("w"), col("a").as("cu"))
      .join(maybeBroadcast(degP), Seq("w"))
      .withColumn("i", pmod(xxhash64(col("cu")), col("p")))
      .withColumn("j", explode(sequence(lit(0L), col("p") - 1)))
      .repartition(nParts, col("w"), col("i"), col("j"))
    val y = sym.select(col("a").as("w"), col("b").as("cv"))
      .join(maybeBroadcast(degP), Seq("w"))
      .withColumn("j", pmod(xxhash64(col("cv")), col("p")))
      .withColumn("i", explode(sequence(lit(0L), col("p") - 1)))
      .repartition(nParts, col("w"), col("i"), col("j"))
    val cand = x.join(y.drop("p"), Seq("w", "i", "j"))
      .filter(col("cu") < col("cv"))
      .join(maybeBroadcast(deg), Seq("w"))
      .groupBy(col("cu").as("u"), col("cv").as("v"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("CAST(floor(1e6 / ln(CAST(dw AS DOUBLE)) + 0.5) AS BIGINT)"))
          .as("aa_micro"))
    val nonAdj = cand.join(und, Seq("u", "v"), "left_anti")
    val wTop = Window.partitionBy(col("u"))
      .orderBy(col("aa_micro").desc, col("v").asc)
    nonAdj.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .select(col("u"), col("rank"), col("v"), col("n_common"),
        col("aa_micro"),
        expr("CAST(aa_micro / 1e6 AS FLOAT)").as("aa_score"))
      .orderBy(col("u"), col("rank"))
  }
  private val g15Sql =
    s"""WITH $coSupplyEdgesCte,
      |sym AS (SELECT u AS a, v AS b FROM edges
      |        UNION ALL SELECT v, u FROM edges),
      |deg AS (SELECT a AS w, COUNT(*) AS dw FROM sym GROUP BY 1),
      |cand AS (
      | SELECT s1.a AS u, s2.b AS v, COUNT(*) AS n_common,
      |  CAST(SUM(CAST(floor(1e6 / ln(CAST(d.dw AS DOUBLE)) + 0.5)
      |       AS BIGINT)) AS BIGINT) AS aa_micro
      | FROM sym s1 JOIN sym s2 ON s1.b = s2.a AND s1.a < s2.b
      | JOIN deg d ON d.w = s1.b
      | GROUP BY 1, 2),
      |nonadj AS (
      | SELECT c.* FROM cand c ANTI JOIN edges e
      |  ON e.u = c.u AND e.v = c.v)
      |SELECT u, rank, v, n_common, aa_micro,
      | CAST(aa_micro / 1e6 AS REAL) AS aa_score
      |FROM (SELECT *, ROW_NUMBER() OVER (
      |        PARTITION BY u ORDER BY aa_micro DESC, v ASC) AS rank
      |      FROM nonadj)
      |WHERE rank <= 3 ORDER BY u, rank""".stripMargin

  // ---- g16: degree assortativity --------------------------------------------
  // Newman's degree-correlation coefficient (Newman 2002): do
  // high-degree nodes attach to other high-degree nodes (assortative,
  // r > 0 — social networks) or to low-degree ones (disassortative,
  // r < 0 — technological/hub graphs)? r = Pearson correlation of the
  // endpoint degrees over every directed edge of the symmetrized
  // graph. Third consumer of the shared coSupplyEdges derivation.
  // All moments are exact longs (degrees are counts; sums of products
  // bounded by E * dmax^2), so the single r expression is the only
  // double — cast float32. One scan shape: edge list -> degree table
  // (broadcast) -> one fold.
  private def g16(s: SparkSession, dir: String): DataFrame = {
    val und = coSupplyEdges(s, dir)
    val sym = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
    val deg = sym.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
    val joined = sym
      .join(broadcast(deg.select(col("n").as("a"), col("d").as("da"))), "a")
      .join(broadcast(deg.select(col("n").as("b"), col("d").as("db"))), "b")
    joined.agg(count(lit(1)).as("n_dir_edges"),
        sum(col("da")).as("sx"), sum(col("db")).as("sy"),
        sum(expr("da * db")).as("sxy"),
        sum(expr("da * da")).as("sxx"),
        sum(expr("db * db")).as("syy"))
      .select(col("n_dir_edges"),
        // degenerate graphs (all degrees equal, e.g. the 3-edge
        // sf0.001 slice) have zero degree variance: r is undefined ->
        // NULL, and the guard keeps ANSI mode from a divide-by-zero
        expr("""CAST(CASE WHEN n_dir_edges * sxx - sx * sx <= 0
               |  OR n_dir_edges * syy - sy * sy <= 0 THEN NULL
               | ELSE (CAST(n_dir_edges * sxy - sx * sy AS DOUBLE))
               |  / sqrt(CAST(n_dir_edges * sxx - sx * sx AS DOUBLE)
               |         * CAST(n_dir_edges * syy - sy * sy AS DOUBLE))
               |END AS FLOAT)""".stripMargin).as("assortativity"))
  }
  private val g16Sql =
    s"""WITH $coSupplyEdgesCte,
      |sym AS (SELECT u AS a, v AS b FROM edges
      |        UNION ALL SELECT v, u FROM edges),
      |deg AS (SELECT a AS n, COUNT(*) AS d FROM sym GROUP BY 1),
      |joined AS (
      | SELECT da.d AS da, db.d AS db
      | FROM sym JOIN deg da ON da.n = sym.a JOIN deg db ON db.n = sym.b)
      |SELECT COUNT(*) AS n_dir_edges,
      | CAST(CASE WHEN COUNT(*) * SUM(da * da) - SUM(da) * SUM(da) <= 0
      |   OR COUNT(*) * SUM(db * db) - SUM(db) * SUM(db) <= 0 THEN NULL
      |  ELSE (CAST(COUNT(*) * SUM(da * db) - SUM(da) * SUM(db) AS DOUBLE))
      |   / sqrt(CAST(COUNT(*) * SUM(da * da) - SUM(da) * SUM(da) AS DOUBLE)
      |          * CAST(COUNT(*) * SUM(db * db) - SUM(db) * SUM(db) AS DOUBLE))
      |  END AS REAL) AS assortativity
      |FROM joined""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g16_assortativity" -> (g16 _),
    "g15_adamic_adar" -> (g15 _),
    "g14_modularity" -> (g14 _),
    "g13_scc" -> (g13 _),
    "g12_landmark_closeness" -> (g12 _),
    "g11_kcore" -> (g11 _),
    "g10_hits" -> (g10 _),
    "g05_pagerank" -> (g05 _),
    "g06_triangle_count" -> (g06 _),
    "g07_personalized_pr" -> (g07 _),
    "g08_bfs_hops" -> (g08 _),
    "g09_label_propagation" -> (g09 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "g16_assortativity" -> g16Sql,
    "g15_adamic_adar" -> g15Sql,
    "g14_modularity" -> g14Sql,
    "g13_scc" -> g13Sql,
    "g12_landmark_closeness" -> g12Sql,
    "g11_kcore" -> g11Sql,
    "g05_pagerank" -> g05Sql,
    "g06_triangle_count" -> g06Sql,
    "g07_personalized_pr" -> g07Sql,
    "g08_bfs_hops" -> g08Sql,
    "g09_label_propagation" -> g09Sql,
    "g10_hits" -> g10Sql
  ).view
}
