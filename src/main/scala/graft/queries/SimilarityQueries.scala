package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * v01 is the exact baseline: brute-force cosine top-k as a blocked
  * cross join + per-query window. v02 is the scale path: random-
  * hyperplane LSH bucketing so each query only scans its bucket —
  * at 100 TB the bucket join replaces the full cross product, and the
  * signature computation is a single codegen'd projection.
  *
  * Ranking determinism: cosine is cast to float32 BEFORE the window
  * ordering on both engines, with vec_id as the tie-break, so the
  * top-k set cannot differ by a summation ulp.
  */
object SimilarityQueries extends QueryFamily {

  private def dotDuck(x: String, y: String) =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($x)), " +
      s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (acc, v) -> acc + v)"

  /** Embeddings with a precomputed norm; cosine uses the native
    * codegen'd array_dot (bit-identical to the oracle's left fold). */
  private def withNorm(s: SparkSession, dir: String): DataFrame = {
    rd(s, dir, "embeddings")
      .withColumn("norm", sqrt(expr("array_dot(embedding, embedding)")))
  }

  // ---- v01: brute-force cosine top-k -------------------------------------
  private val nQueries = 5; private val topK = 10
  private def v01(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"))
    val cos = (expr("array_dot(q_emb, c_emb)") / (col("q_norm") * col("c_norm")))
      .cast("float")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    q.join(c, col("q_id") =!= col("c_id"))
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val v01Sql = {
    val cos = s"CAST(${dotDuck("q.embedding", "c.embedding")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * SQRT(${dotDuck("c.embedding", "c.embedding")})) AS REAL)"
    s"""SELECT q_id, rank, c_id, cos FROM (
       | SELECT q.vec_id AS q_id, c.vec_id AS c_id, $cos AS cos,
       |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY $cos DESC, c.vec_id ASC) AS rank
       | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       | WHERE q.vec_id < $nQueries)
       |WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin
  }

  // ---- v02: LSH-bucketed ANN ---------------------------------------------
  // 8 deterministic hyperplanes over the first 16 dims -> 8-bit bucket;
  // query scans only its bucket. The recall/cost trade is the standard
  // SimHash-ANN one; hyperplane coefficients are sin-literals so both
  // engines build the identical signature.
  private val nPlanes = 8; private val nDims = 16; private val annK = 5
  private def planeCoef(p: Int, j: Int): Double = math.sin(p * nDims + j + 0.5)
  private def bucketExpr(emb: String, elemAt: (String, Int) => String): String = {
    val planeBits = (0 until nPlanes).map { p =>
      val dot = (0 until nDims)
        .map(j => s"CAST(${elemAt(emb, j + 1)} AS DOUBLE) * ${planeCoef(p, j)}")
        .mkString(" + ")
      s"(CASE WHEN ($dot) >= 0.0 THEN ${1 << p} ELSE 0 END)"
    }
    planeBits.mkString("(", " + ", ")")
  }
  private def v02(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    def sparkElem(emb: String, i: Int) = s"element_at($emb, $i)"
    val withBucket = e.select(col("vec_id"), col("embedding"), col("norm"),
      expr(bucketExpr("embedding", sparkElem)).as("bucket"))
    val q = withBucket.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket"))
    val c = withBucket.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"), col("bucket").as("c_bucket"))
    val cos = (expr("array_dot(q_emb, c_emb)") / (col("q_norm") * col("c_norm")))
      .cast("float")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    q.join(c, col("bucket") === col("c_bucket") && col("q_id") =!= col("c_id"))
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= annK)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val v02Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val bucket = bucketExpr("embedding", duckElem)
    val cos = s"CAST(${dotDuck("q.embedding", "c.embedding")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * SQRT(${dotDuck("c.embedding", "c.embedding")})) AS REAL)"
    s"""WITH wb AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings)
       |SELECT q_id, rank, c_id, cos FROM (
       | SELECT q.vec_id AS q_id, c.vec_id AS c_id, $cos AS cos,
       |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY $cos DESC, c.vec_id ASC) AS rank
       | FROM wb q JOIN wb c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
       | WHERE q.vec_id < $nQueries)
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin
  }

  // ---- v03: IVF-style ANN -------------------------------------------------
  // Inverted-file index with fixed (literal) centroids: each vector is
  // assigned to its nearest centroid cell, queries scan only their cell.
  // A trained index would broadcast learned centroids; the assignment,
  // cell join, and ranked scan are the production plan shape either way.
  private val nCells = 8
  private def centroid(cid: Int, j: Int): Double = math.cos(cid * 97 + j * 0.37) / 4.0
  /** Distance score to centroid `cid`: ||e-c||² = ||c||² − 2⟨e,c⟩
    * (||e||² is common to the argmin). */
  private def scoreExpr(cid: Int, emb: String, elemAt: (String, Int) => String): String = {
    val dot = (0 until nDims)
      .map(j => s"CAST(${elemAt(emb, j + 1)} AS DOUBLE) * ${centroid(cid, j)}")
      .mkString(" + ")
    val c2 = (0 until nDims).map(j => centroid(cid, j) * centroid(cid, j)).sum
    s"($c2 - 2.0 * ($dot))"
  }
  /** argmin over precomputed score columns s0..s{n-1}, low-index tie-break. */
  private val argminExpr: String =
    (0 until nCells).map { cid =>
      val isMin = (0 until nCells).filter(_ != cid)
        .map(o => s"s$cid <= s$o").mkString(" AND ")
      s"WHEN $isMin THEN $cid"
    }.mkString("(CASE ", " ", " ELSE 0 END)")
  private def v03(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    def sparkElem(emb: String, i: Int) = s"element_at($emb, $i)"
    val scored = e.select(Seq(col("vec_id"), col("embedding"), col("norm")) ++
      (0 until nCells).map(cid =>
        expr(scoreExpr(cid, "embedding", sparkElem)).as(s"s$cid")): _*)
    val withCell = scored.select(col("vec_id"), col("embedding"), col("norm"),
      expr(argminExpr).as("cell"))
    val q = withCell.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("cell"))
    val c = withCell.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"), col("cell").as("c_cell"))
    val cos = (expr("array_dot(q_emb, c_emb)") / (col("q_norm") * col("c_norm")))
      .cast("float")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    q.join(c, col("cell") === col("c_cell") && col("q_id") =!= col("c_id"))
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= annK)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val v03Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val scoreCols = (0 until nCells)
      .map(cid => s"${scoreExpr(cid, "embedding", duckElem)} AS s$cid").mkString(", ")
    val cos = s"CAST(${dotDuck("q.embedding", "c.embedding")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * SQRT(${dotDuck("c.embedding", "c.embedding")})) AS REAL)"
    s"""WITH scored AS (SELECT vec_id, embedding, $scoreCols FROM embeddings),
       |wc AS (SELECT vec_id, embedding, $argminExpr AS cell FROM scored)
       |SELECT q_id, rank, c_id, cos FROM (
       | SELECT q.vec_id AS q_id, c.vec_id AS c_id, $cos AS cos,
       |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY $cos DESC, c.vec_id ASC) AS rank
       | FROM wc q JOIN wc c ON q.cell = c.cell AND q.vec_id != c.vec_id
       | WHERE q.vec_id < $nQueries)
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin
  }

  // ---- v04: IVF with nprobe = 2 ------------------------------------------
  // The recall knob every IVF deployment turns: probe the query's TWO
  // nearest cells instead of one. The query side explodes to (q, cell)
  // pairs — still an equi-join on cell, so the plan stays a hash join
  // and only the (tiny) query side doubles; candidate vectors are never
  // re-bucketed. Tie-breaks are by cell index on both engines.
  // second-best cell: argmin over cells != best, low-index tie-break.
  // References the already-materialized `cell` COLUMN rather than
  // re-inlining the argmin CASE: the inlined form repeats the full
  // best-cell expression O(nCells²) times, which at nCells=8 is ~500
  // comparisons per row and (with the s-cols re-expanded through the
  // projection) a whole-stage-codegen method big enough to push Janino
  // compile into the seconds — the driver's round-2 bench measured
  // 9.5 s for v04 where the staged form runs in ~1 s.
  private val argmin2Expr: String =
    (0 until nCells).map { cid =>
      val beats = (0 until nCells).filter(_ != cid)
        .map(o => s"($o = cell OR s$cid <= s$o)").mkString(" AND ")
      s"WHEN $cid != cell AND $beats THEN $cid"
    }.mkString("(CASE ", " ", " ELSE 0 END)")
  private def v04(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    def sparkElem(emb: String, i: Int) = s"element_at($emb, $i)"
    val scored = e.select(Seq(col("vec_id"), col("embedding"), col("norm")) ++
      (0 until nCells).map(cid =>
        expr(scoreExpr(cid, "embedding", sparkElem)).as(s"s$cid")): _*)
    // two staged selects: `cell` must be a named column before argmin2Expr
    // can reference it (and CollapseProject would re-inline a single-ref
    // alias — the s-cols are multi-referenced, so the stage holds)
    val withCell = scored.select(Seq(col("vec_id"), col("embedding"), col("norm"),
        expr(argminExpr).as("cell")) ++
        (0 until nCells).map(cid => col(s"s$cid")): _*)
      .select(col("vec_id"), col("embedding"), col("norm"), col("cell"),
        expr(argmin2Expr).as("cell2"))
    val qProbed = withCell.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"),
        explode(array(col("cell"), col("cell2"))).as("probe"))
    val c = withCell.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"), col("cell").as("c_cell"))
    val cos = (expr("array_dot(q_emb, c_emb)") / (col("q_norm") * col("c_norm")))
      .cast("float")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    qProbed.join(c, col("probe") === col("c_cell") && col("q_id") =!= col("c_id"))
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= annK)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val v04Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val scoreCols = (0 until nCells)
      .map(cid => s"${scoreExpr(cid, "embedding", duckElem)} AS s$cid").mkString(", ")
    val cos = s"CAST(${dotDuck("q.embedding", "c.embedding")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * SQRT(${dotDuck("c.embedding", "c.embedding")})) AS REAL)"
    s"""WITH scored AS (SELECT vec_id, embedding, $scoreCols FROM embeddings),
       |wc1 AS (SELECT vec_id, embedding, $argminExpr AS cell, ${(0 until nCells).map(c => s"s$c").mkString(", ")} FROM scored),
       |wc AS (SELECT vec_id, embedding, cell, $argmin2Expr AS cell2 FROM wc1),
       |qp AS (
       | SELECT vec_id, embedding, cell AS probe FROM wc WHERE vec_id < $nQueries
       | UNION ALL
       | SELECT vec_id, embedding, cell2 AS probe FROM wc WHERE vec_id < $nQueries)
       |SELECT q_id, rank, c_id, cos FROM (
       | SELECT q.vec_id AS q_id, c.vec_id AS c_id, $cos AS cos,
       |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY $cos DESC, c.vec_id ASC) AS rank
       | FROM qp q JOIN wc c ON q.probe = c.cell AND q.vec_id != c.vec_id)
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin
  }

  // ---- v05: IVF with a TRAINED centroid step (one Lloyd iteration) --------
  // v03/v04 assign against fixed literal centroids; a deployed IVF index
  // trains them. This runs the k-means update exactly as a cluster
  // would: assign (codegen'd argmin, the v03 machinery) → update
  // (groupBy(cell), a TINY 8-row aggregate) → re-assign via a broadcast
  // join against the new centroids. Nothing leaves the engine and the
  // big side is touched twice — the canonical Spark k-means step at any
  // scale.
  //
  // Cross-engine determinism of the UPDATE step: centroid means are
  // sums of member floats, and a double SUM's accumulation order is
  // engine-chosen — so members are summed as exact micro-scaled longs
  // (FLOOR(x*1e6+0.5), the repo's milli-long convention one decade
  // finer) and the mean is one double division of two exact integers:
  // bit-identical centroids on both engines with no order dependence.
  // Distances to the trained centroids then use the same explicitly
  // left-associated 16-term sums on both sides (they fit one chunk of
  // the chunk-16 convention), with cell index as the ranking tie-break.
  private def v05(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "embeddings")
    def sparkElem(emb: String, i: Int) = s"element_at($emb, $i)"
    // iteration 0: assign against the shared literal centroids
    val scored = e.select(Seq(col("vec_id"), col("embedding")) ++
      (0 until nCells).map(cid =>
        expr(scoreExpr(cid, "embedding", sparkElem)).as(s"s$cid")): _*)
    val assigned0 = scored.select(col("vec_id"), col("embedding"),
      expr(argminExpr).as("cell"))
    // update: exact integer sums -> one double division per coordinate
    val sums = (0 until nDims).map(j =>
      sum(expr(s"CAST(FLOOR(CAST(element_at(embedding, ${j + 1}) AS DOUBLE) " +
        s"* 1000000.0 + 0.5) AS BIGINT)")).as(s"sum$j"))
    val cents = assigned0.groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"), sums: _*)
    val centCols = (0 until nDims).map(j =>
      (col(s"sum$j").cast("double") / (col("cnt").cast("double") * lit(1000000.0)))
        .as(s"c$j"))
    val trained = cents.select(col("cell").as("t_cell") +: centCols: _*)
    // re-assign: broadcast the 8-row centroid table, explicit 16-term sums
    val dot = (0 until nDims).map(j =>
      expr(s"CAST(element_at(embedding, ${j + 1}) AS DOUBLE)") * col(s"c$j"))
      .reduce(_ + _)
    val cdot = (0 until nDims).map(j => col(s"c$j") * col(s"c$j")).reduce(_ + _)
    val rescored = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(trained))
      .select(col("vec_id"), col("t_cell"), (cdot - lit(2.0) * dot).as("score"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").asc, col("t_cell").asc)
    rescored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("t_cell").as("cell"))
      .withColumn("cell_size",
        count(lit(1)).over(Window.partitionBy(col("cell"))))
      .orderBy(col("vec_id"))
  }
  private val v05Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val scoreCols = (0 until nCells)
      .map(cid => s"${scoreExpr(cid, "embedding", duckElem)} AS s$cid").mkString(", ")
    val sumCols = (0 until nDims).map(j =>
      s"SUM(CAST(FLOOR(CAST(embedding[${j + 1}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS sum$j")
      .mkString(", ")
    val centCols = (0 until nDims).map(j =>
      s"CAST(sum$j AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1000000.0) AS c$j").mkString(", ")
    val dot = (0 until nDims)
      .map(j => s"CAST(e.embedding[${j + 1}] AS DOUBLE) * t.c$j").mkString(" + ")
    val cdot = (0 until nDims).map(j => s"t.c$j * t.c$j").mkString(" + ")
    s"""WITH scored AS (SELECT vec_id, embedding, $scoreCols FROM embeddings),
       |assigned0 AS (SELECT vec_id, embedding, $argminExpr AS cell FROM scored),
       |sums AS (SELECT cell, COUNT(*) AS cnt, $sumCols
       |  FROM assigned0 GROUP BY cell),
       |trained AS (SELECT cell AS t_cell, $centCols FROM sums),
       |rescored AS (
       | SELECT e.vec_id, t.t_cell, ($cdot) - 2.0 * ($dot) AS score
       | FROM embeddings e CROSS JOIN trained t),
       |reassigned AS (
       | SELECT vec_id, t_cell AS cell FROM (
       |  SELECT vec_id, t_cell, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY score ASC, t_cell ASC) AS rn
       |  FROM rescored) WHERE rn = 1)
       |SELECT vec_id, cell,
       | COUNT(*) OVER (PARTITION BY cell) AS cell_size
       |FROM reassigned ORDER BY vec_id""".stripMargin
  }

  // ---- v06: int8 embedding quantization ----------------------------------
  // The storage-side compression every 100 TB vector corpus runs before
  // indexing: per-vector symmetric int8 quantization (scale = max|x|/127),
  // with reconstruction-quality metrics (max absolute error + cosine
  // between the original and the reconstruction). One codegen projection,
  // no shuffle — 4× smaller vectors into every downstream candidate join.
  // Rounding is the repo's cross-engine floor(x + 0.5) convention; the
  // dot products are the same left-fold both engines use everywhere else.
  private def v06(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "embeddings")
    val dotS = (x: String, y: String) =>
      s"aggregate(zip_with($x, $y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    e.withColumn("maxabs",
        expr("array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"))
      .withColumn("qvec", expr(
        "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 / nullif(maxabs, 0.0) + 0.5) AS INT))"))
      .withColumn("recon", expr(
        "transform(qvec, q -> CAST(q AS DOUBLE) * maxabs / 127.0)"))
      .select(col("vec_id"),
        col("maxabs").cast("float").as("maxabs"),
        expr("array_max(zip_with(embedding, recon, (p, q) -> abs(CAST(p AS DOUBLE) - q)))")
          .cast("float").as("max_err"),
        (expr(dotS("embedding", "recon")) /
          (sqrt(expr(dotS("embedding", "embedding"))) * sqrt(expr(dotS("recon", "recon")))))
          .cast("float").as("cos_recon"))
      .orderBy(col("vec_id"))
  }
  private val v06Sql = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($x)), " +
        s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (acc, v) -> acc + v)"
    s"""WITH m AS (
       | SELECT vec_id, embedding,
       |  list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS maxabs
       | FROM embeddings),
       |q AS (
       | SELECT vec_id, embedding, maxabs,
       |  list_transform(embedding,
       |    v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 / NULLIF(maxabs, 0.0) + 0.5) AS INTEGER)) AS qvec
       | FROM m),
       |r AS (
       | SELECT vec_id, embedding, maxabs,
       |  list_transform(qvec, qq -> CAST(qq AS DOUBLE) * maxabs / 127.0) AS recon
       | FROM q)
       |SELECT vec_id, CAST(maxabs AS REAL) AS maxabs,
       | CAST(list_max(list_transform(generate_series(1, len(embedding)),
       |   i -> abs(CAST(embedding[i] AS DOUBLE) - recon[i]))) AS REAL) AS max_err,
       | CAST(${dot("embedding", "recon")} /
       |  (SQRT(${dot("embedding", "embedding")}) * SQRT(${dot("recon", "recon")})) AS REAL) AS cos_recon
       |FROM r ORDER BY vec_id""".stripMargin
  }

  // ---- d11: semantic dedup (cluster + representative prune) --------------
  // The SemDeDup shape (Abbas et al. 2023): cluster the embedding space,
  // then prune vectors too similar to their cluster's representative.
  // The representative is the vector nearest its cell centroid (float32
  // distance, vec_id tie-break), so every non-rep vector needs exactly
  // ONE cosine — against the rep — not a within-cluster pairwise pass:
  // O(n) comparisons via a broadcast join of the K-row rep table, where
  // the naive within-cluster form is O(sum of cluster²) and a hot
  // cluster at 100 TB is millions of vectors. Cell assignment reuses the
  // v03 IVF scoring (identical literal centroids on both engines); the
  // cell table feeds both the rep selection and the probe join, so it is
  // materialized once.
  // 0.25 matches d05's near-dup bar and prunes the top few percent of
  // this corpus's cos_rep distribution (p97 ≈ 0.27, max ≈ 0.45)
  private val semThresh = "0.25"
  private def d11(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    def sparkElem(emb: String, i: Int) = s"element_at($emb, $i)"
    val scored = e.select(Seq(col("vec_id"), col("embedding"), col("norm")) ++
      (0 until nCells).map(cid =>
        expr(scoreExpr(cid, "embedding", sparkElem)).as(s"s$cid")): _*)
    val withCell = scored
      .withColumn("cell", expr(argminExpr))
      .withColumn("dist2", expr((0 until nCells)
        .map(k => s"WHEN cell = $k THEN s$k")
        .mkString("CASE ", " ", " END")).cast("float"))
      .select(col("vec_id"), col("embedding"), col("norm"), col("cell"), col("dist2"))
      .localCheckpoint() // feeds rep selection AND the probe join
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("dist2").asc, col("vec_id").asc)
    val reps = withCell.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cell").as("r_cell"), col("vec_id").as("rep_id"),
        col("embedding").as("r_emb"), col("norm").as("r_norm"))
    val cos = (expr("array_dot(embedding, r_emb)") / (col("norm") * col("r_norm")))
      .cast("float")
    withCell.join(broadcast(reps), col("cell") === col("r_cell"))
      .withColumn("cos_rep", cos)
      .select(col("vec_id"), col("cell"), col("rep_id"), col("cos_rep"),
        (col("vec_id") === col("rep_id") ||
          col("cos_rep") < expr(s"CAST($semThresh AS DOUBLE)")).as("is_kept"))
      .orderBy(col("vec_id"))
  }
  private val d11Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val scoreCols = (0 until nCells)
      .map(cid => s"${scoreExpr(cid, "embedding", duckElem)} AS s$cid").mkString(", ")
    val distCase = (0 until nCells).map(k => s"WHEN cell = $k THEN s$k")
      .mkString("CASE ", " ", " END")
    val cos = s"${dotDuck("w.embedding", "r.r_emb")} / " +
      s"(SQRT(${dotDuck("w.embedding", "w.embedding")}) * SQRT(${dotDuck("r.r_emb", "r.r_emb")}))"
    s"""WITH scored AS (SELECT vec_id, embedding, $scoreCols FROM embeddings),
       |wc0 AS (SELECT *, $argminExpr AS cell FROM scored),
       |wc AS (SELECT vec_id, embedding, cell,
       |       CAST($distCase AS REAL) AS dist2 FROM wc0),
       |reps AS (
       | SELECT cell AS r_cell, vec_id AS rep_id, embedding AS r_emb
       | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
       |         ORDER BY dist2 ASC, vec_id ASC) AS rn FROM wc)
       | WHERE rn = 1)
       |SELECT w.vec_id, w.cell, r.rep_id, CAST($cos AS REAL) AS cos_rep,
       | (w.vec_id = r.rep_id OR CAST($cos AS REAL) < CAST($semThresh AS DOUBLE)) AS is_kept
       |FROM wc w JOIN reps r ON w.cell = r.r_cell
       |ORDER BY w.vec_id""".stripMargin
  }

  // ---- v07: IVF + int8 asymmetric-distance scan (ADC) ---------------------
  // The memory-side half of a production ANN index: candidates are
  // stored as per-vector-scaled int8 codes (v06's quantizer), queries
  // stay full precision, and ranking uses the asymmetric distance —
  // query · reconstructed-candidate — so the candidate join carries 4×
  // fewer bytes per vector through the shuffle and the (cell-gated)
  // scan touches only code bytes. Because the reconstruction is
  // code · (maxabs/127), the per-vector scale cancels in the cosine, so
  // the score is computable from the raw codes and one precomputed
  // code-norm — no dequantization pass. Cell gate and tie-breaks are
  // identical to v03.
  private def v07(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    def sparkElem(emb: String, i: Int) = s"element_at($emb, $i)"
    val dotS = (x: String, y: String) =>
      s"aggregate(zip_with($x, $y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    val scored = e.select(Seq(col("vec_id"), col("embedding"), col("norm")) ++
      (0 until nCells).map(cid =>
        expr(scoreExpr(cid, "embedding", sparkElem)).as(s"s$cid")): _*)
    val coded = scored
      .withColumn("cell", expr(argminExpr))
      .withColumn("maxabs",
        expr("array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"))
      .withColumn("code", expr(
        "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 / nullif(maxabs, 0.0) + 0.5) AS INT))"))
      .withColumn("code_norm", sqrt(expr(dotS("code", "code"))))
      .localCheckpoint() // feeds the query side AND the candidate side
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("cell"))
    val c = coded.select(col("vec_id").as("c_id"), col("code"),
      col("code_norm"), col("cell").as("c_cell"))
    val cosAdc = (expr(dotS("q_emb", "code")) / (col("q_norm") * col("code_norm")))
      .cast("float")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_adc").desc, col("c_id").asc)
    q.join(c, col("cell") === col("c_cell") && col("q_id") =!= col("c_id"))
      .withColumn("cos_adc", cosAdc)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= annK)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos_adc"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val v07Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val scoreCols = (0 until nCells)
      .map(cid => s"${scoreExpr(cid, "embedding", duckElem)} AS s$cid").mkString(", ")
    val cosAdc = s"CAST(${dotDuck("q.embedding", "c.code")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * SQRT(${dotDuck("c.code", "c.code")})) AS REAL)"
    s"""WITH scored AS (SELECT vec_id, embedding, $scoreCols FROM embeddings),
       |wc0 AS (SELECT vec_id, embedding, $argminExpr AS cell FROM scored),
       |coded AS (
       | SELECT vec_id, embedding, cell,
       |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 /
       |    NULLIF(list_max(list_transform(embedding, w -> abs(CAST(w AS DOUBLE)))), 0.0)
       |    + 0.5) AS INTEGER)) AS code
       | FROM wc0)
       |SELECT q_id, rank, c_id, cos_adc FROM (
       | SELECT q.vec_id AS q_id, c.vec_id AS c_id, $cosAdc AS cos_adc,
       |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |    ORDER BY $cosAdc DESC, c.vec_id ASC) AS rank
       | FROM coded q JOIN coded c ON q.cell = c.cell AND q.vec_id != c.vec_id
       | WHERE q.vec_id < $nQueries)
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin
  }

  // ---- v08: ANN recall@k evaluation ---------------------------------------
  // The measurement half of index engineering: recall of the IVF+ADC
  // scan (v07) against the brute-force ground truth (v01), per query
  // and with the exact hit count. Both rankings are already
  // deterministic (float32 scores, id tie-breaks), so recall is exact
  // arithmetic — this is the harness that justifies nprobe/quantization
  // choices before a 100 TB index build, run on a sampled slice.
  private def v08(s: SparkSession, dir: String): DataFrame = {
    val truth = v01(s, dir).select(col("q_id"), col("c_id"))
    val approx = v07(s, dir)
      .select(col("q_id").as("a_q"), col("c_id").as("a_c"))
    truth.join(approx,
        col("q_id") === col("a_q") && col("c_id") === col("a_c"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k"),
        org.apache.spark.sql.functions.sum(
          when(col("a_c").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .select(col("q_id"), col("k"), col("n_hit"),
        (col("n_hit").cast("double") / col("k")).cast("float").as("recall"))
      .orderBy(col("q_id"))
  }
  private val v08Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val scoreCols = (0 until nCells)
      .map(cid => s"${scoreExpr(cid, "embedding", duckElem)} AS s$cid").mkString(", ")
    val cos = s"CAST(${dotDuck("q.embedding", "c.embedding")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * SQRT(${dotDuck("c.embedding", "c.embedding")})) AS REAL)"
    val cosAdc = s"CAST(${dotDuck("q.embedding", "c.code")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * SQRT(${dotDuck("c.code", "c.code")})) AS REAL)"
    s"""WITH truth AS (
       | SELECT q_id, c_id FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |     ORDER BY $cos DESC, c.vec_id ASC) AS rank
       |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       |  WHERE q.vec_id < $nQueries)
       | WHERE rank <= $topK),
       |scored AS (SELECT vec_id, embedding, $scoreCols FROM embeddings),
       |wc0 AS (SELECT vec_id, embedding, $argminExpr AS cell FROM scored),
       |coded AS (
       | SELECT vec_id, embedding, cell,
       |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 127.0 /
       |    NULLIF(list_max(list_transform(embedding, w -> abs(CAST(w AS DOUBLE)))), 0.0)
       |    + 0.5) AS INTEGER)) AS code
       | FROM wc0),
       |approx AS (
       | SELECT q_id, c_id FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |     ORDER BY $cosAdc DESC, c.vec_id ASC) AS rank
       |  FROM coded q JOIN coded c ON q.cell = c.cell AND q.vec_id != c.vec_id
       |  WHERE q.vec_id < $nQueries)
       | WHERE rank <= $annK)
       |SELECT t.q_id, COUNT(*) AS k,
       | CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       | CAST(CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |      / COUNT(*) AS REAL) AS recall
       |FROM truth t LEFT JOIN approx a ON t.q_id = a.q_id AND t.c_id = a.c_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- v09: product quantization + ADC lookup tables ----------------------
  // The other production ANN memory layout (vs v07's flat int8): split
  // the 64-dim vector into 4 subspaces of 16 dims, code each subspace
  // as its nearest of 8 literal centroids (2^12 distinct codes from
  // 3 bits × 4 — 64 floats become 4 small ints), and rank with the
  // classic ADC trick: the QUERY precomputes a 4×8 dot-product lookup
  // table once, and every candidate scores as 4 table lookups + 4 adds
  // — no per-candidate dot product at all. Reconstruction norms are
  // compile-time literals (centroid property, not data). Tie-break and
  // top-k shape identical to v01/v03/v07; composes with the IVF cell
  // gate in production (v07 shows the gate; this shows the codec).
  // Coding argmin drops the Σx² term (constant per subspace across
  // centroids), the same algebra as scoreExpr.
  private val pqM = 4; private val pqSub = 16; private val pqK = 8
  private def pqC(j: Int, k: Int, d: Int): Double =
    math.sin(2000 + j * 512 + k * 64 + d + 0.75) * 0.3
  private def pqN2(j: Int, k: Int): Double =
    (0 until pqSub).map(d => pqC(j, k, d) * pqC(j, k, d)).sum
  private def pqDistExpr(j: Int, k: Int, emb: String,
                         elemAt: (String, Int) => String): String = {
    val dot = (0 until pqSub)
      .map(d => s"CAST(${elemAt(emb, j * pqSub + d + 1)} AS DOUBLE) * ${pqC(j, k, d)}")
      .mkString(" + ")
    s"(${pqN2(j, k)} - 2.0 * ($dot))"
  }
  private def pqArgmin(j: Int): String =
    (0 until pqK).map { k =>
      val isMin = (0 until pqK).filter(_ != k)
        .map(o => s"pq${j}_s$k <= pq${j}_s$o").mkString(" AND ")
      s"WHEN $isMin THEN $k"
    }.mkString("(CASE ", " ", " ELSE 0 END)")
  private def pqQdotExpr(j: Int, k: Int, emb: String,
                         elemAt: (String, Int) => String): String =
    (0 until pqSub)
      .map(d => s"CAST(${elemAt(emb, j * pqSub + d + 1)} AS DOUBLE) * ${pqC(j, k, d)}")
      .mkString("(", " + ", ")")
  private def v09(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    def sparkElem(emb: String, i: Int) = s"element_at($emb, $i)"
    val distCols = for (j <- 0 until pqM; k <- 0 until pqK)
      yield expr(pqDistExpr(j, k, "embedding", sparkElem)).as(s"pq${j}_s$k")
    // checkpoint BETWEEN the distance projection and the argmin CASEs:
    // CollapseProject would otherwise inline all 32 16-term distance
    // expressions into every CASE comparison (~60k expression nodes —
    // codegen bails to interpreted). With the barrier each stage stays
    // a compact codegen'd projection; the coded table that feeds the
    // join is the persisted PQ index, 4 small ints per vector.
    val dists = e.select(Seq(col("vec_id")) ++ distCols: _*).localCheckpoint()
    val coded = dists.select(Seq(col("vec_id")) ++
      (0 until pqM).map(j => expr(pqArgmin(j)).as(s"code$j")): _*)
    val lutCols = for (j <- 0 until pqM; k <- 0 until pqK)
      yield expr(pqQdotExpr(j, k, "embedding", sparkElem)).as(s"qd${j}_$k")
    val q = e.filter(col("vec_id") < nQueries)
      .select(Seq(col("vec_id").as("q_id"), col("norm").as("q_norm")) ++ lutCols: _*)
    val adcDot = (0 until pqM).map { j =>
      s"element_at(array(${(0 until pqK).map(k => s"qd${j}_$k").mkString(", ")}), " +
        s"CAST(code$j + 1 AS INT))"
    }.mkString(" + ")
    val reconN2 = (0 until pqM).map { j =>
      s"element_at(array(${(0 until pqK).map(k => pqN2(j, k)).mkString(", ")}), " +
        s"CAST(code$j + 1 AS INT))"
    }.mkString(" + ")
    val c = coded.select(Seq(col("vec_id").as("c_id")) ++
      (0 until pqM).map(j => col(s"code$j")): _*)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_pq").desc, col("c_id").asc)
    q.join(c, col("q_id") =!= col("c_id"))
      .withColumn("cos_pq",
        expr(s"CAST(($adcDot) / (q_norm * sqrt($reconN2)) AS FLOAT)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= annK)
      .select(Seq(col("q_id"), col("rank"), col("c_id")) ++
        (0 until pqM).map(j => col(s"code$j")) :+ col("cos_pq"): _*)
      .orderBy(col("q_id"), col("rank"))
  }
  private val v09Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val distCols = (for (j <- 0 until pqM; k <- 0 until pqK)
      yield s"${pqDistExpr(j, k, "embedding", duckElem)} AS pq${j}_s$k").mkString(", ")
    val codeCols = (0 until pqM).map(j => s"${pqArgmin(j)} AS code$j").mkString(", ")
    val lutCols = (for (j <- 0 until pqM; k <- 0 until pqK)
      yield s"${pqQdotExpr(j, k, "embedding", duckElem)} AS qd${j}_$k").mkString(", ")
    val adcDot = (0 until pqM).map { j =>
      s"(LIST_VALUE(${(0 until pqK).map(k => s"qd${j}_$k").mkString(", ")}))[code$j + 1]"
    }.mkString(" + ")
    val reconN2 = (0 until pqM).map { j =>
      s"(LIST_VALUE(${(0 until pqK).map(k => pqN2(j, k)).mkString(", ")}))[code$j + 1]"
    }.mkString(" + ")
    s"""WITH dists AS (SELECT vec_id, $distCols FROM embeddings),
       |coded AS (SELECT vec_id, $codeCols FROM dists),
       |q AS (
       | SELECT vec_id AS q_id,
       |  SQRT(${dotDuck("embedding", "embedding")}) AS q_norm, $lutCols
       | FROM embeddings WHERE vec_id < $nQueries)
       |SELECT q_id, rank, c_id, ${(0 until pqM).map(j => s"code$j").mkString(", ")}, cos_pq
       |FROM (
       | SELECT q.q_id, c.vec_id AS c_id,
       |  ${(0 until pqM).map(j => s"c.code$j").mkString(", ")},
       |  CAST(($adcDot) / (q_norm * SQRT($reconN2)) AS REAL) AS cos_pq,
       |  ROW_NUMBER() OVER (PARTITION BY q.q_id
       |    ORDER BY CAST(($adcDot) / (q_norm * SQRT($reconN2)) AS REAL) DESC,
       |             c.vec_id ASC) AS rank
       | FROM q JOIN coded c ON q.q_id != c.vec_id)
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin
  }

  // ---- v10: two-stage retrieval — PQ candidates, exact re-rank ------------
  // The production ANN serving pattern end-to-end: stage 1 scores ALL
  // candidates with v09's cheap PQ-ADC lookups and keeps a top-50
  // shortlist; stage 2 re-ranks ONLY the shortlist with the exact
  // full-precision cosine (native array_dot) and emits the top-10.
  // The expensive exact math touches 50 rows per query instead of the
  // corpus — the cost asymmetry that makes billion-vector serving
  // work. Oracle mirrors both stages; final order is exact-cosine
  // with c_id tie-break.
  private val rerankShortlist = 50
  private def v10(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    def sparkElem(emb: String, i: Int) = s"element_at($emb, $i)"
    val distCols = for (j <- 0 until pqM; k <- 0 until pqK)
      yield expr(pqDistExpr(j, k, "embedding", sparkElem)).as(s"pq${j}_s$k")
    val dists = e.select(Seq(col("vec_id")) ++ distCols: _*).localCheckpoint()
    val coded = dists.select(Seq(col("vec_id")) ++
      (0 until pqM).map(j => expr(pqArgmin(j)).as(s"code$j")): _*)
    val lutCols = for (j <- 0 until pqM; k <- 0 until pqK)
      yield expr(pqQdotExpr(j, k, "embedding", sparkElem)).as(s"qd${j}_$k")
    val q = e.filter(col("vec_id") < nQueries)
      .select(Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm")) ++ lutCols: _*)
    val adcDot = (0 until pqM).map { j =>
      s"element_at(array(${(0 until pqK).map(k => s"qd${j}_$k").mkString(", ")}), " +
        s"CAST(code$j + 1 AS INT))"
    }.mkString(" + ")
    val reconN2 = (0 until pqM).map { j =>
      s"element_at(array(${(0 until pqK).map(k => pqN2(j, k)).mkString(", ")}), " +
        s"CAST(code$j + 1 AS INT))"
    }.mkString(" + ")
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_pq").desc, col("c_id").asc)
    val shortlist = q
      .join(coded.select(Seq(col("vec_id").as("c_id")) ++
        (0 until pqM).map(j => col(s"code$j")): _*), col("q_id") =!= col("c_id"))
      .withColumn("cos_pq",
        expr(s"CAST(($adcDot) / (q_norm * sqrt($reconN2)) AS FLOAT)"))
      .withColumn("prank", row_number().over(wAdc))
      .filter(col("prank") <= rerankShortlist)
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("c_id"))
    val exact = shortlist
      .join(e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("norm").as("c_norm")), "c_id")
      .withColumn("cos",
        (expr("array_dot(q_emb, c_emb)") / (col("q_norm") * col("c_norm")))
          .cast("float"))
    val wEx = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    exact.withColumn("rank", row_number().over(wEx))
      .filter(col("rank") <= annK)
      .select(col("q_id"), col("rank"), col("c_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val v10Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val distCols = (for (j <- 0 until pqM; k <- 0 until pqK)
      yield s"${pqDistExpr(j, k, "embedding", duckElem)} AS pq${j}_s$k").mkString(", ")
    val codeCols = (0 until pqM).map(j => s"${pqArgmin(j)} AS code$j").mkString(", ")
    val lutCols = (for (j <- 0 until pqM; k <- 0 until pqK)
      yield s"${pqQdotExpr(j, k, "embedding", duckElem)} AS qd${j}_$k").mkString(", ")
    val adcDot = (0 until pqM).map { j =>
      s"(LIST_VALUE(${(0 until pqK).map(k => s"qd${j}_$k").mkString(", ")}))[code$j + 1]"
    }.mkString(" + ")
    val reconN2 = (0 until pqM).map { j =>
      s"(LIST_VALUE(${(0 until pqK).map(k => pqN2(j, k)).mkString(", ")}))[code$j + 1]"
    }.mkString(" + ")
    val cosExact = s"CAST(${dotDuck("q.embedding", "c.embedding")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * " +
      s"SQRT(${dotDuck("c.embedding", "c.embedding")})) AS REAL)"
    s"""WITH dists AS (SELECT vec_id, $distCols FROM embeddings),
       |coded AS (SELECT vec_id, $codeCols FROM dists),
       |qlut AS (
       | SELECT vec_id AS q_id,
       |  SQRT(${dotDuck("embedding", "embedding")}) AS q_norm, $lutCols
       | FROM embeddings WHERE vec_id < $nQueries),
       |shortlist AS (
       | SELECT q_id, c_id FROM (
       |  SELECT q.q_id, c.vec_id AS c_id,
       |   ROW_NUMBER() OVER (PARTITION BY q.q_id
       |     ORDER BY CAST(($adcDot) / (q_norm * SQRT($reconN2)) AS REAL) DESC,
       |              c.vec_id ASC) AS prank
       |  FROM qlut q JOIN coded c ON q.q_id != c.vec_id)
       | WHERE prank <= $rerankShortlist)
       |SELECT q_id, rank, c_id, cos FROM (
       | SELECT s.q_id, s.c_id, $cosExact AS cos,
       |  ROW_NUMBER() OVER (PARTITION BY s.q_id
       |    ORDER BY $cosExact DESC, s.c_id ASC) AS rank
       | FROM shortlist s
       |  JOIN embeddings q ON q.vec_id = s.q_id
       |  JOIN embeddings c ON c.vec_id = s.c_id)
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin
  }

  // ---- v11: maximum-inner-product search via Simple-LSH --------------------
  // MIPS is the retrieval objective recommender/reranker towers
  // actually optimize (unnormalized dot, not cosine) — and plain
  // hyperplane LSH does NOT work for it. The public reduction
  // (Neyshabur & Srebro, "Simple-LSH", ICML 2015): augment every
  // corpus vector with sqrt(M² − ‖x‖²) (M = corpus max norm) and the
  // query with 0 — inner products on the augmented unit ball order
  // exactly as raw dots — then bucket with the SAME v02 hyperplane
  // family (queries use the plain signature: their augmented
  // coordinate is 0). Candidates come from the bucket equi-join, the
  // exact dot re-ranks them. M² rides as a 1-row broadcast; signatures
  // are one codegen projection; no cross product anywhere.
  // Determinism: sqrt/sign arithmetic from array_dot's exact fold,
  // dot cast float32 before ranking, c_id tie-break.
  private def v11(s: SparkSession, dir: String): DataFrame = {
    val base = rd(s, dir, "embeddings")
      .withColumn("norm_sq", expr("array_dot(embedding, embedding)"))
    val m2 = base.agg(max(col("norm_sq")).as("m2"))
    val wb = base.crossJoin(broadcast(m2))
    def sparkElem(emb: String, i: Int) = s"element_at($emb, $i)"
    val candBits = (0 until nPlanes).map { p =>
      val dot = (0 until nDims)
        .map(j => s"CAST(${sparkElem("embedding", j + 1)} AS DOUBLE) * ${planeCoef(p, j)}")
        .mkString(" + ")
      s"(CASE WHEN (($dot) + ${planeCoef(p, nDims)} * SQRT(m2 - norm_sq)) >= 0.0" +
        s" THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val c = wb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      expr(candBits).as("bucket"))
    val q = wb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        expr(bucketExpr("embedding", sparkElem)).as("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dot").desc, col("c_id").asc)
    q.join(c, Seq("bucket")).filter(col("q_id") =!= col("c_id"))
      .withColumn("dot", expr("array_dot(q_emb, c_emb)").cast("float"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= annK)
      .select(col("q_id"), col("rank"), col("c_id"), col("dot"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val v11Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val candBits = (0 until nPlanes).map { p =>
      val dot = (0 until nDims)
        .map(j => s"CAST(${duckElem("embedding", j + 1)} AS DOUBLE) * ${planeCoef(p, j)}")
        .mkString(" + ")
      s"(CASE WHEN (($dot) + ${planeCoef(p, nDims)} * SQRT(m2 - norm_sq)) >= 0.0" +
        s" THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val qBits = bucketExpr("embedding", duckElem)
    val dot = s"CAST(${dotDuck("q.q_emb", "c.c_emb")} AS REAL)"
    s"""WITH base AS (
       | SELECT vec_id, embedding,
       |  ${dotDuck("embedding", "embedding")} AS norm_sq
       | FROM embeddings),
       |m AS (SELECT MAX(norm_sq) AS m2 FROM base),
       |wb AS (SELECT vec_id, embedding, norm_sq, m2 FROM base CROSS JOIN m),
       |c AS (SELECT vec_id AS c_id, embedding AS c_emb, $candBits AS bucket
       |      FROM wb),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, $qBits AS bucket
       |      FROM wb WHERE vec_id < $nQueries)
       |SELECT q_id, rank, c_id, dot FROM (
       | SELECT q.q_id, c.c_id, $dot AS dot,
       |  ROW_NUMBER() OVER (PARTITION BY q.q_id
       |    ORDER BY $dot DESC, c.c_id ASC) AS rank
       | FROM q JOIN c USING (bucket) WHERE q.q_id != c.c_id)
       |WHERE rank <= $annK ORDER BY q_id, rank""".stripMargin
  }

  // ---- v12: triplet hard-negative mining -----------------------------------
  // The contrastive-training data miner (FaceNet/SBERT semi-hard
  // mining): for each anchor, the top-k most-similar vectors with a
  // DIFFERENT label are its hard negatives, and the margin against the
  // anchor's HARDEST POSITIVE (lowest-cosine same-label vector) decides
  // whether the triplet still violates the hinge. ONE brute pass
  // computes both branches — the candidate join carries an is_pos flag,
  // a per-anchor min-window extracts the hardest positive, a rank
  // window cuts the negatives — so the corpus is scanned once and both
  // windows partition by anchor. At 100 TB the candidate join swaps to
  // the v02 LSH-bucket path unchanged (the flag and windows ride on
  // whatever candidate set arrives).
  private val hnMarginHinge = 0.2
  private def v12(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("label").as("q_label"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"), col("label").as("c_label"))
    val cos = (expr("array_dot(q_emb, c_emb)") / (col("q_norm") * col("c_norm")))
      .cast("float")
    val pairs = q.join(c, col("q_id") =!= col("c_id"))
      .withColumn("cos", cos)
      .withColumn("is_pos", col("q_label") === col("c_label"))
    val wq = Window.partitionBy(col("q_id"))
    val wneg = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    pairs
      .withColumn("hard_pos_cos",
        min(when(col("is_pos"), col("cos"))).over(wq))
      .filter(!col("is_pos"))
      .withColumn("rank", row_number().over(wneg))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("c_id").as("neg_id"),
        col("cos").as("neg_cos"), col("hard_pos_cos"),
        (col("hard_pos_cos").cast("double") - col("cos").cast("double"))
          .cast("float").as("margin"),
        ((col("hard_pos_cos").cast("double") - col("cos").cast("double")) <
          hnMarginHinge).as("violates"))
      .orderBy(col("q_id"), col("rank"))
  }
  private val v12Sql = {
    val cos = s"CAST(${dotDuck("q.embedding", "c.embedding")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * SQRT(${dotDuck("c.embedding", "c.embedding")})) AS REAL)"
    s"""WITH pairs AS (
       | SELECT q.vec_id AS q_id, c.vec_id AS c_id, $cos AS cos,
       |  q.label = c.label AS is_pos
       | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       | WHERE q.vec_id < $nQueries),
       |flagged AS (
       | SELECT *, MIN(CASE WHEN is_pos THEN cos END)
       |   OVER (PARTITION BY q_id) AS hard_pos_cos
       | FROM pairs),
       |negs AS (
       | SELECT q_id, c_id, cos, hard_pos_cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, c_id ASC) AS rank
       | FROM flagged WHERE NOT is_pos)
       |SELECT q_id, rank, c_id AS neg_id, cos AS neg_cos, hard_pos_cos,
       | CAST(CAST(hard_pos_cos AS DOUBLE) - CAST(cos AS DOUBLE) AS REAL) AS margin,
       | (CAST(hard_pos_cos AS DOUBLE) - CAST(cos AS DOUBLE)) < $hnMarginHinge AS violates
       |FROM negs WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin
  }

  // ---- v13: filtered ANN — pre-filter vs post-filter -----------------------
  // The metadata-filtered vector search every production vector store
  // has to get right (and most get wrong): searching "nearest neighbors
  // WHERE label = X" admits two plans — PRE-filter (exact top-k over
  // the predicate-satisfying pool; correct, needs filter pushdown into
  // the index scan) and POST-filter (global top-k, then apply the
  // predicate; cheap, silently returns < k and misses matches the
  // global ranking crowded out). This query quantifies the gap on the
  // self-label predicate (~10% selectivity): per query, the filtered
  // pool size, the post-filter survivor count, the overlap with the
  // true filtered top-k, and recall — the number that justifies
  // building filter-aware index scans before a 100 TB deployment.
  //
  // Scale design: ONE scored candidate join (query side is the tiny
  // nQueries broadcast, the corpus side streams), checkpointed; both
  // rankings are q_id-partitioned windows over it; the summary is one
  // small keyed aggregate. Recall is exact integer arithmetic
  // (micro-quantized ratio of integer counts).
  private def v13(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("label").as("q_label"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"), col("label").as("c_label"))
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .withColumn("cos",
        (expr("array_dot(q_emb, c_emb)") / (col("q_norm") * col("c_norm")))
          .cast("float"))
      .select(col("q_id"), col("c_id"), col("cos"),
        (col("c_label") === col("q_label")).as("match"))
      .localCheckpoint() // feeds BOTH rankings and the pool count
    val wQ = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val pre = scored.filter(col("match"))
      .withColumn("rank", row_number().over(wQ)).filter(col("rank") <= topK)
      .select(col("q_id"), col("c_id"))
    val post = scored
      .withColumn("rank", row_number().over(wQ)).filter(col("rank") <= topK)
      .filter(col("match"))
      .select(col("q_id"), col("c_id"))
    val pool = scored.filter(col("match"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_pool"))
    val hits = pre.join(post, Seq("q_id", "c_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    val nPost = post.groupBy(col("q_id")).agg(count(lit(1)).as("n_post"))
    pool
      .join(nPost, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_pool"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"CAST(floor(1e6 * coalesce(hits, 0) / least($topK, n_pool)) AS BIGINT)")
          .as("recall_micro"))
      .orderBy(col("q_id"))
  }
  private val v13Sql = {
    val cos = s"CAST(${dotDuck("q.embedding", "c.embedding")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * " +
      s"SQRT(${dotDuck("c.embedding", "c.embedding")})) AS REAL)"
    s"""WITH scored AS (
       | SELECT q.vec_id AS q_id, c.vec_id AS c_id, $cos AS cos,
       |  c.label = q.label AS match
       | FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       | WHERE q.vec_id < $nQueries),
       |pre AS (
       | SELECT q_id, c_id FROM (
       |  SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, c_id ASC) AS rank
       |  FROM scored WHERE match)
       | WHERE rank <= $topK),
       |post AS (
       | SELECT q_id, c_id FROM (
       |  SELECT q_id, c_id, match, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, c_id ASC) AS rank
       |  FROM scored)
       | WHERE rank <= $topK AND match),
       |pool AS (
       | SELECT q_id, COUNT(*) AS n_pool FROM scored WHERE match GROUP BY 1),
       |hits AS (
       | SELECT p.q_id, COUNT(*) AS hits FROM pre p
       | WHERE EXISTS (SELECT 1 FROM post o
       |               WHERE o.q_id = p.q_id AND o.c_id = p.c_id)
       | GROUP BY 1),
       |np AS (SELECT q_id, COUNT(*) AS n_post FROM post GROUP BY 1)
       |SELECT pool.q_id, pool.n_pool,
       | CAST(COALESCE(np.n_post, 0) AS BIGINT) AS n_post,
       | CAST(COALESCE(hits.hits, 0) AS BIGINT) AS hits,
       | CAST(FLOOR(1e6 * COALESCE(hits.hits, 0)
       |      / LEAST($topK, pool.n_pool)) AS BIGINT) AS recall_micro
       |FROM pool
       |LEFT JOIN np ON np.q_id = pool.q_id
       |LEFT JOIN hits ON hits.q_id = pool.q_id
       |ORDER BY pool.q_id""".stripMargin
  }

  // ---- v14: clustering quality (purity + NMI vs labels) --------------------
  // The evaluation every clustering pipeline owes its users (Manning
  // IR ch.16: purity; Strehl & Ghosh NMI): assign each vector to its
  // IVF cell (v03's literal-centroid argmin), cross-tabulate cells
  // against the ground-truth label column, and report per-cell
  // majority labels plus corpus purity and normalized mutual
  // information. Every statistic comes from the exact (cell, label)
  // count table: per-term p*ln(p) contributions nano-quantize (1e9 —
  // the terms are O(1e-2)) before their folds, ln arguments are ratios
  // of exact longs, and the final NMI is one double expression cast to
  // float32. Scale: ONE scan to the (cell, label) table (8 x |labels|
  // rows), then everything is broadcast 1-row algebra — the same
  // contingency-table shape as m10/m17.
  private def v14(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "embeddings")
    def sparkElem(emb: String, i: Int) = s"element_at($emb, $i)"
    val scored = e.select(Seq(col("vec_id"), col("label")) ++
      (0 until nCells).map(cid =>
        expr(scoreExpr(cid, "embedding", sparkElem)).as(s"s$cid")): _*)
    val conf = scored.select(col("label"), expr(argminExpr).as("cell"))
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds marginals, MI, and the majority rows
    val nc = conf.groupBy(col("cell"))
      .agg(org.apache.spark.sql.functions.sum(col("n")).as("n_c"))
    val nl = conf.groupBy(col("label"))
      .agg(org.apache.spark.sql.functions.sum(col("n")).as("n_l"))
    val tot = conf.agg(org.apache.spark.sql.functions.sum(col("n")).as("nn"))
    val mi = conf.join(broadcast(nc), Seq("cell"))
      .join(broadcast(nl), Seq("label")).crossJoin(broadcast(tot))
      .agg(org.apache.spark.sql.functions.sum(expr(
        """CAST(floor((CAST(n AS DOUBLE) / nn)
          | * ln(CAST(nn AS DOUBLE) * n / (CAST(n_c AS DOUBLE) * n_l))
          | * 1e9 + 0.5) AS BIGINT)""".stripMargin)).as("mi_q"))
    val hc = nc.crossJoin(broadcast(tot))
      .agg(org.apache.spark.sql.functions.sum(expr(
        """CAST(floor(-(CAST(n_c AS DOUBLE) / nn)
          | * ln(CAST(n_c AS DOUBLE) / nn) * 1e9 + 0.5) AS BIGINT)"""
          .stripMargin)).as("hc_q"))
    val hl = nl.crossJoin(broadcast(tot))
      .agg(org.apache.spark.sql.functions.sum(expr(
        """CAST(floor(-(CAST(n_l AS DOUBLE) / nn)
          | * ln(CAST(n_l AS DOUBLE) / nn) * 1e9 + 0.5) AS BIGINT)"""
          .stripMargin)).as("hl_q"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("n").desc, col("label").asc)
    val major = conf.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("cell"), col("label").as("majority_label"),
        col("n").as("majority_n"))
    val pur = major.agg(org.apache.spark.sql.functions.sum(
      col("majority_n")).as("pure_n"))
    major.join(nc, Seq("cell"))
      .crossJoin(broadcast(pur)).crossJoin(broadcast(tot))
      .crossJoin(broadcast(mi)).crossJoin(broadcast(hc))
      .crossJoin(broadcast(hl))
      .select(col("cell"), col("n_c"), col("majority_label"),
        col("majority_n"),
        expr("CAST(CAST(pure_n AS DOUBLE) / nn AS FLOAT)").as("purity"),
        expr("""CAST(CASE WHEN hc_q > 0 AND hl_q > 0
               | THEN (mi_q / 1e9)
               |      / sqrt((hc_q / 1e9) * (hl_q / 1e9)) ELSE 0.0 END
               |AS FLOAT)""".stripMargin).as("nmi"))
      .orderBy(col("cell"))
  }
  private val v14Sql = {
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val scoreCols = (0 until nCells)
      .map(cid => s"${scoreExpr(cid, "embedding", duckElem)} AS s$cid")
      .mkString(", ")
    s"""WITH scored AS (SELECT vec_id, label, $scoreCols FROM embeddings),
       |assigned AS (SELECT label, $argminExpr AS cell FROM scored),
       |conf AS (
       | SELECT cell, label, COUNT(*) AS n FROM assigned GROUP BY 1, 2),
       |nc AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n_c FROM conf GROUP BY 1),
       |nl AS (SELECT label, CAST(SUM(n) AS BIGINT) AS n_l FROM conf GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM conf),
       |mi AS (
       | SELECT CAST(SUM(CAST(floor((CAST(n AS DOUBLE) / nn)
       |   * ln(CAST(nn AS DOUBLE) * n / (CAST(n_c AS DOUBLE) * n_l))
       |   * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS mi_q
       | FROM conf JOIN nc USING (cell) JOIN nl USING (label) CROSS JOIN tot),
       |hc AS (
       | SELECT CAST(SUM(CAST(floor(-(CAST(n_c AS DOUBLE) / nn)
       |   * ln(CAST(n_c AS DOUBLE) / nn) * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
       |  AS hc_q
       | FROM nc CROSS JOIN tot),
       |hl AS (
       | SELECT CAST(SUM(CAST(floor(-(CAST(n_l AS DOUBLE) / nn)
       |   * ln(CAST(n_l AS DOUBLE) / nn) * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
       |  AS hl_q
       | FROM nl CROSS JOIN tot),
       |major AS (
       | SELECT cell, label AS majority_label, n AS majority_n FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
       |    ORDER BY n DESC, label ASC) AS rnk FROM conf)
       | WHERE rnk = 1),
       |pur AS (SELECT CAST(SUM(majority_n) AS BIGINT) AS pure_n FROM major)
       |SELECT m.cell, nc.n_c, m.majority_label, m.majority_n,
       | CAST(CAST(pur.pure_n AS DOUBLE) / tot.nn AS REAL) AS purity,
       | CAST(CASE WHEN hc.hc_q > 0 AND hl.hl_q > 0
       |  THEN (mi.mi_q / 1e9)
       |       / sqrt((hc.hc_q / 1e9) * (hl.hl_q / 1e9)) ELSE 0.0 END
       | AS REAL) AS nmi
       |FROM major m JOIN nc USING (cell)
       |CROSS JOIN pur CROSS JOIN tot CROSS JOIN mi CROSS JOIN hc CROSS JOIN hl
       |ORDER BY m.cell""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v14_cluster_purity" -> (v14 _),
    "v13_filtered_ann" -> (v13 _),
    "v12_hard_negatives" -> (v12 _),
    "v10_pq_rerank" -> (v10 _),
    "v11_mips_lsh" -> (v11 _),
    "v09_knn_pq_adc" -> (v09 _),
    "v08_ann_recall" -> (v08 _),
    "v07_knn_ivf_adc" -> (v07 _),
    "d11_semantic_dedup" -> (d11 _),
    "v06_embedding_quantize" -> (v06 _),
    "v01_knn_bruteforce" -> (v01 _),
    "v02_knn_lsh" -> (v02 _),
    "v03_knn_ivf" -> (v03 _),
    "v04_knn_ivf_nprobe2" -> (v04 _),
    "v05_kmeans_ivf_train" -> (v05 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "v14_cluster_purity" -> v14Sql,
    "v13_filtered_ann" -> v13Sql,
    "v12_hard_negatives" -> v12Sql,
    "v10_pq_rerank" -> v10Sql,
    "v11_mips_lsh" -> v11Sql,
    "v09_knn_pq_adc" -> v09Sql,
    "v08_ann_recall" -> v08Sql,
    "v07_knn_ivf_adc" -> v07Sql,
    "d11_semantic_dedup" -> d11Sql,
    "v06_embedding_quantize" -> v06Sql,
    "v01_knn_bruteforce" -> v01Sql,
    "v02_knn_lsh" -> v02Sql,
    "v03_knn_ivf" -> v03Sql,
    "v04_knn_ivf_nprobe2" -> v04Sql,
    "v05_kmeans_ivf_train" -> v05Sql
  ).view
}
