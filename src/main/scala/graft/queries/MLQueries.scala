package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** ML-inference operators (SURVEY.md §2.6 M1–M4) as pure column math.
  *
  * The reference evaluates a PyTorch MLP and an XGBoost BDT inside Dask
  * workers (`stage2/mva_evaluators.py`). In eval mode both are
  * deterministic closed-form functions of the features, so the Spark-first
  * form is a codegen'd expression tree with the (tiny) weight matrices
  * inlined as literals — no model runtime, no UDF, fully vectorized, and
  * the DuckDB oracle can evaluate the identical math. At 100 TB this is
  * the fastest possible inference path: zero per-row interpreter overhead,
  * whole-stage codegen, no shuffle.
  */
object MLQueries extends QueryFamily {

  // Deterministic "trained" weights — same literals on both engines.
  private val nIn = 4
  // Feature standardization (M2): stored scaler constants.
  private val mu = Array(0.5, 0.5, 0.5, 0.5)
  private val sig = Array(0.29, 0.29, 0.29, 0.29)

  // Shared feature derivation (events table), pre-standardization.
  private def rawFeatures: Seq[Column] = Seq(
    (col("value") / lit(490.02)).as("f0"),
    ((col("event_id") % 100) / lit(100.0)).as("f1"),
    ((col("user_id") % 150) / lit(150.0)).as("f2"),
    (col("value") % 1.0).as("f3"))
  private val rawFeaturesSql =
    """value / 490.02 AS f0,
      | (event_id % 100) / 100.0 AS f1,
      | (user_id % 150) / 150.0 AS f2,
      | (value % 1.0) AS f3""".stripMargin

  /** tanh via the exp expansion, clamped at |z| = 20 so the exp can
    * never overflow: true tanh(±20) already rounds to ±1.0 in double,
    * and the unclamped form yields exactly ±1.0 for 20 < |z| < 350, so
    * the clamp changes NOTHING below the old overflow point — it only
    * replaces the z > 354 NaN region ((inf-1)/(inf+1)) with the correct
    * saturation. Both engines spell it identically. m35's real trained
    * weights reach |z| ~ hundreds (measured: 55% NaN scores unclamped);
    * m03's synthetic weights never leave (-20, 20), so its rows are
    * bit-unchanged. */
  private def tanhS(x: String) =
    s"((EXP(LEAST(GREATEST($x, -20.0), 20.0) * 2.0) - 1.0) / " +
      s"(EXP(LEAST(GREATEST($x, -20.0), 20.0) * 2.0) + 1.0))"

  /** A weight as SQL text with six decimals, spelled the same on both
    * engines. */
  private def lit6(x: Double) = "%.6f".formatLocal(java.util.Locale.ROOT, x)

  /** Sum with chunk-of-16 parenthesization, IDENTICAL on both engines:
    * a flat 128-term left fold exceeds DuckDB's 128 binder-recursion
    * cap, and the fold shape fixes the float summation order, so both
    * sides must chunk the same way. */
  private val sumChunk = 16
  private def chunkSumS(ts: Seq[String]): String =
    ts.grouped(sumChunk).map(g => "(" + g.mkString(" + ") + ")").mkString(" + ")

  // ---- m01: k-fold routing by event id (M1) ------------------------------
  // reference: stage2/mva_evaluators.py:154-160 — event % 4 selects which
  // fold's model scores the row (train/eval separation).
  private def m01(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val fold = col("event_id") % 4
    // per-fold "models": distinct linear scorers
    val score = when(fold === 0, col("value") * 0.9 + 1.0)
      .when(fold === 1, col("value") * 1.1 - 2.0)
      .when(fold === 2, col("value") * 0.95 + 0.5)
      .otherwise(col("value") * 1.05 - 1.0)
    ev.select(col("event_id"), fold.as("fold"), score.cast("float").as("score"))
      .orderBy(col("event_id"))
  }
  private val m01Sql =
    """SELECT event_id, event_id % 4 AS fold,
      | CAST(CASE WHEN event_id % 4 = 0 THEN value * 0.9 + 1.0
      |      WHEN event_id % 4 = 1 THEN value * 1.1 - 2.0
      |      WHEN event_id % 4 = 2 THEN value * 0.95 + 0.5
      |      ELSE value * 1.05 - 1.0 END AS REAL) AS score
      |FROM events ORDER BY event_id""".stripMargin

  // ---- m02: feature preparation (M2) -------------------------------------
  // reference: stage2/mva_evaluators.py:70-84,166-173 — variation-column
  // fallback, mass masking outside the signal region, standardization
  // with stored scalers, sentinel fill.
  private def m02(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    // "value_var" exists only for some rows -> fallback to value
    val valueVar = when(col("event_type") === "purchase", col("value") * 1.02)
    val feat = coalesce(valueVar, col("value"))
    val mass = col("value") % 160.0
    val masked = when(mass >= 115.03 && mass <= 135.03, mass).otherwise(125.0)
    val std = (feat - lit(100.0)) / lit(50.0)
    ev.select(col("event_id"),
        masked.cast("float").as("mass_masked"),
        std.cast("float").as("feat_std"),
        coalesce(when(col("value") > 50.0, std), lit(-99.0)).cast("float").as("feat_filled"))
      .orderBy(col("event_id"))
  }
  private val m02Sql =
    """SELECT event_id,
      | CAST(CASE WHEN (value % 160.0) >= 115.03 AND (value % 160.0) <= 135.03
      |      THEN (value % 160.0) ELSE 125.0 END AS REAL) AS mass_masked,
      | CAST((COALESCE(CASE WHEN event_type = 'purchase' THEN value * 1.02 END, value) - 100.0) / 50.0 AS REAL) AS feat_std,
      | CAST(COALESCE(CASE WHEN value > 50.0
      |      THEN (COALESCE(CASE WHEN event_type = 'purchase' THEN value * 1.02 END, value) - 100.0) / 50.0
      |      END, -99.0) AS REAL) AS feat_filled
      |FROM events ORDER BY event_id""".stripMargin

  // ---- m03: MLP forward pass at reference dims (M3) ----------------------
  // reference: stage2/mva_evaluators.py:141-195, mva_models.py:6-39 —
  // Linear→BatchNorm→tanh at 128/64/32, sigmoid out, then arctanh
  // (mva_evaluators.py:195). BatchNorm in eval mode is per-neuron affine,
  // folded into the weight/bias literals below (w' = w·γ/√(σ²+ε),
  // b' = (b−m)·γ/√(σ²+ε)+β) exactly as a deployment exporter would.
  //
  // Layers are STAGED selects — each neuron references the previous
  // layer's named columns, so plan size and oracle SQL grow linearly
  // (128·4 + 64·128 + 32·64 + 32 terms), not combinatorially, and both
  // engines evaluate the identical left-associated sums. All ~10k
  // multiply-adds per row stay inside whole-stage codegen: at these dims
  // column math still beats a UDF (no per-row boxing, no encoder
  // round-trip) — see BASELINE.md for the measured crossover note.
  // Weights pass through "%.6f" so the Spark literal double and the
  // DuckDB-parsed literal are bit-identical.
  private val mlpDims = Seq(nIn, 128, 64, 32)
  private def q6(x: Double): Double = "%.6f".formatLocal(java.util.Locale.ROOT, x).toDouble
  /** BN-folded deterministic weights for layer l (dims(l) -> dims(l+1)). */
  private def mlpW(l: Int): Array[Array[Double]] =
    Array.tabulate(mlpDims(l), mlpDims(l + 1)) { (i, j) =>
      val raw = math.sin(l * 997.0 + i * mlpDims(l + 1) + j + 0.25) / math.sqrt(mlpDims(l).toDouble)
      val bnScale = 1.0 + math.sin(l * 13.0 + j * 0.7) / 10.0
      q6(raw * bnScale)
    }
  private def mlpB(l: Int): Array[Double] =
    Array.tabulate(mlpDims(l + 1)) { j =>
      val raw = math.cos(l * 31.0 + j * 1.3) / 8.0
      val bnShift = math.cos(l * 17.0 + j * 0.9) / 20.0
      q6(raw + bnShift)
    }
  private val mlpWOut: Array[Double] =
    Array.tabulate(mlpDims.last)(j => q6(math.sin(j * 2.1 + 0.5) / math.sqrt(mlpDims.last.toDouble)))
  private val mlpBOut: Double = 0.1
  private def m03(s: SparkSession, dir: String): DataFrame = {
    // The 128/64/32 forward pass is compute-bound; fan out ONLY when
    // the scan under-splits the core count (one-file test source).
    // Same guarded spelling as m35 — a blanket repartition is a full
    // shuffle bolted onto a map-only job once the scan has >= cores
    // splits, which it always does at 100 TB.
    val ev0 = rd(s, dir, "events")
    val mlpPar = s.sparkContext.defaultParallelism
    val ev = if (ev0.rdd.getNumPartitions < mlpPar) ev0.repartition(mlpPar) else ev0
    // Layers run through the native mlp_dense expression (a generated
    // loop over a referenced weight array) instead of one expression
    // node per multiply-add: the spelled-out ~11k-node network kept the
    // math in codegen but made the one-off Janino compile the dominant
    // cost (~8 s in the round-2 driver bench). mlp_dense accumulates in
    // the SAME chunk-16 fold shape as the oracle SQL (chunkSumS) and
    // adds the bias last, so results are bit-identical to the spelled-
    // out form; weights pass through "%.6f" text on both engines.
    def arrLit(xs: Seq[Double]) = xs.map(lit6).mkString("array(", ", ", ")")
    val feats = ev.select((col("event_id") +: rawFeatures): _*)
    val std = feats.select(col("event_id"),
      array((0 until nIn).map(i => (col(s"f$i") - lit(mu(i))) / lit(sig(i))): _*).as("h0"))
    val staged = (0 until mlpDims.size - 1).foldLeft(std) { (cur, l) =>
      val wFlat = mlpW(l).flatten.toSeq // [i][j] -> i*nOut+j (row-major)
      cur.select(col("event_id"),
        expr(s"mlp_dense(h$l, ${arrLit(wFlat)}, ${arrLit(mlpB(l).toSeq)}, true)")
          .as(s"h${l + 1}"))
    }
    val L = mlpDims.size - 1
    val out = expr(s"element_at(mlp_dense(h$L, ${arrLit(mlpWOut.toSeq)}, " +
      s"array(${lit6(mlpBOut)}), false), 1)")
    val sigm = lit(1.0) / (lit(1.0) + exp(negate(out)))
    val atanhScore = lit(0.5) * log((lit(1.0) + sigm) / (lit(1.0) - sigm))
    staged.select(col("event_id"),
        sigm.cast("float").as("dnn_score"),
        atanhScore.cast("float").as("dnn_score_atanh"))
      .orderBy(col("event_id"))
  }
  private val m03Sql = {
    val std = (0 until nIn).map(i => s"((f$i - ${mu(i)}) / ${sig(i)}) AS h0_$i").mkString(", ")
    val layers = (0 until mlpDims.size - 1).map { l =>
      val w = mlpW(l); val b = mlpB(l)
      (0 until mlpDims(l + 1)).map { j =>
        val z = chunkSumS((0 until mlpDims(l))
          .map(i => s"h${l}_$i * ${lit6(w(i)(j))}")) + s" + ${lit6(b(j))}"
        s"${tanhS(z)} AS h${l + 1}_$j"
      }.mkString(", ")
    }
    val L = mlpDims.size - 1
    val out = chunkSumS((0 until mlpDims.last)
      .map(j => s"h${L}_$j * ${lit6(mlpWOut(j))}")) + s" + $mlpBOut"
    val sigm = s"(1.0 / (1.0 + EXP(-($out))))"
    val inner = layers.zipWithIndex.foldLeft(
      s"SELECT event_id, $std FROM (SELECT event_id, $rawFeaturesSql FROM events)") {
      case (sub, (cols, _)) => s"SELECT event_id, $cols FROM ($sub)"
    }
    s"""SELECT event_id,
       | CAST($sigm AS REAL) AS dnn_score,
       | CAST(0.5 * LN((1.0 + $sigm) / (1.0 - $sigm)) AS REAL) AS dnn_score_atanh
       |FROM ($inner)
       |ORDER BY event_id""".stripMargin
  }

  // ---- m04: tree-ensemble scorer (M4) ------------------------------------
  // reference: stage2/mva_evaluators.py:326-369 — BDT predict_proba.
  // A boosted ensemble in eval mode is a sum of leaf weights -> sigmoid;
  // each depth-2 tree is a nested CASE, fully codegen-friendly.
  private def m04(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val feats = ev.select((col("event_id") +: rawFeatures): _*)
    def tree(f1c: Column, t1: Double, f2c: Column, t2: Double,
             ll: Double, lr: Double, rl: Double, rr: Double): Column =
      when(f1c < t1, when(f2c < t2, ll).otherwise(lr))
        .otherwise(when(f2c < t2, rl).otherwise(rr))
    val sumLeaf = tree(col("f0"), 0.5, col("f1"), 0.3, -0.2, 0.1, 0.05, 0.3) +
      tree(col("f2"), 0.6, col("f3"), 0.5, -0.15, 0.02, 0.1, 0.25) +
      tree(col("f1"), 0.4, col("f0"), 0.7, -0.1, 0.12, -0.02, 0.2)
    val proba = lit(1.0) / (lit(1.0) + exp(negate(sumLeaf)))
    feats.select(col("event_id"), proba.cast("float").as("bdt_score"))
      .orderBy(col("event_id"))
  }
  private val m04Sql = {
    def tree(f1: String, t1: Double, f2: String, t2: Double,
             ll: Double, lr: Double, rl: Double, rr: Double): String =
      s"(CASE WHEN $f1 < $t1 THEN (CASE WHEN $f2 < $t2 THEN $ll ELSE $lr END)" +
        s" ELSE (CASE WHEN $f2 < $t2 THEN $rl ELSE $rr END) END)"
    val sumLeaf = Seq(
      tree("f0", 0.5, "f1", 0.3, -0.2, 0.1, 0.05, 0.3),
      tree("f2", 0.6, "f3", 0.5, -0.15, 0.02, 0.1, 0.25),
      tree("f1", 0.4, "f0", 0.7, -0.1, 0.12, -0.02, 0.2)).mkString(" + ")
    s"""SELECT event_id,
       | CAST(1.0 / (1.0 + EXP(-($sumLeaf))) AS REAL) AS bdt_score
       |FROM (SELECT event_id, $rawFeaturesSql FROM events)
       |ORDER BY event_id""".stripMargin
  }

  // ---- m33: ablation feature importance ------------------------------------
  // Model-agnostic global importance by mean-value ablation (the
  // permutation-importance family, Breiman 2001, in its broadcast-
  // friendly form): re-score m04's frozen tree ensemble with each
  // feature replaced by its corpus mean and report mean |delta proba|
  // per feature. Unlike row-permutation (which needs a corpus-wide
  // rank pairing), mean ablation is ONE broadcast row + four extra
  // CASE-tree columns in the same scan — the importance pass that
  // actually runs at 100 TB. Feature means are exact micro-long
  // ratios; per-row |delta| micro-quantizes before the fold; ranking
  // happens on the exact quantized sums.
  private def m33TreeSql(f: Int => String): String = {
    def tree(f1: String, t1: Double, f2: String, t2: Double,
             ll: Double, lr: Double, rl: Double, rr: Double): String =
      s"(CASE WHEN $f1 < $t1 THEN (CASE WHEN $f2 < $t2 THEN $ll ELSE $lr END)" +
        s" ELSE (CASE WHEN $f2 < $t2 THEN $rl ELSE $rr END) END)"
    Seq(
      tree(f(0), 0.5, f(1), 0.3, -0.2, 0.1, 0.05, 0.3),
      tree(f(2), 0.6, f(3), 0.5, -0.15, 0.02, 0.1, 0.25),
      tree(f(1), 0.4, f(0), 0.7, -0.1, 0.12, -0.02, 0.2)).mkString(" + ")
  }
  private def m33Proba(f: Int => String): String =
    s"(1.0 / (1.0 + EXP(-(${m33TreeSql(f)}))))"
  private def m33(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val feats = ev.select((col("event_id") +: rawFeatures): _*)
      .localCheckpoint() // means pass + the scoring pass
    val meanExprs = (0 until 4).flatMap { i =>
      Seq(expr(s"SUM(CAST(floor(f$i * 1e6 + 0.5) AS BIGINT))").as(s"sm$i"))
    } :+ count(lit(1)).as("n_all")
    val means = feats.agg(meanExprs.head, meanExprs.tail: _*)
      .select((0 until 4).map(i =>
        expr(s"CAST(sm$i AS DOUBLE) / 1e6 / n_all").as(s"mu$i")) :+ col("n_all"): _*)
    val base = (i: Int) => s"f$i"
    val scored = feats.crossJoin(broadcast(means))
      .select(Seq(col("n_all")) ++
        (0 until 4).map { a =>
          val fa = (i: Int) => if (i == a) s"mu$a" else s"f$i"
          expr(s"""CAST(floor(abs(${m33Proba(base)} - ${m33Proba(fa)})
                  | * 1e6 + 0.5) AS BIGINT)""".stripMargin).as(s"d$a")
        }: _*)
    val sums = scored.groupBy(col("n_all"))
      .agg((0 until 4).map(a =>
        org.apache.spark.sql.functions.sum(col(s"d$a")).as(s"sd$a")).head,
        (0 until 4).map(a =>
          org.apache.spark.sql.functions.sum(col(s"d$a")).as(s"sd$a")).tail: _*)
    val stackArgs = (0 until 4).map(a => s"'f$a', sd$a").mkString(", ")
    val w = Window.orderBy(col("sd").desc, col("feature").asc)
    sums.selectExpr("n_all", s"stack(4, $stackArgs) AS (feature, sd)")
      .withColumn("rank", row_number().over(w))
      .select(col("feature"), col("rank"),
        expr("CAST(CAST(sd AS DOUBLE) / 1e6 / n_all AS FLOAT)")
          .as("mean_abs_delta"))
      .orderBy(col("rank"), col("feature"))
  }
  private val m33Sql = {
    val base = (i: Int) => s"f$i"
    val deltas = (0 until 4).map { a =>
      val fa = (i: Int) => if (i == a) s"mu$a" else s"f$i"
      s"""CAST(SUM(CAST(floor(abs(${m33Proba(base)} - ${m33Proba(fa)})
         | * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sd$a""".stripMargin
    }.mkString(", ")
    val mus = (0 until 4).map(i =>
      s"""CAST(SUM(CAST(floor(f$i * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         | / 1e6 / COUNT(*) AS mu$i""".stripMargin).mkString(", ")
    val rows = (0 until 4).map(a =>
      s"SELECT 'f$a' AS feature, sd$a AS sd, n_all FROM sums")
      .mkString(" UNION ALL ")
    s"""WITH feats AS (SELECT event_id, $rawFeaturesSql FROM events),
       |means AS (SELECT $mus, COUNT(*) AS n_all FROM feats),
       |sums AS (
       | SELECT MAX(n_all) AS n_all, $deltas
       | FROM feats CROSS JOIN means),
       |stacked AS ($rows)
       |SELECT feature,
       | ROW_NUMBER() OVER (ORDER BY sd DESC, feature ASC) AS rank,
       | CAST(CAST(sd AS DOUBLE) / 1e6 / n_all AS REAL) AS mean_abs_delta
       |FROM stacked ORDER BY rank, feature""".stripMargin
  }

  // ---- m13: MULTICLASS tree-ensemble scorer (M4, multiclass branch) -------
  // reference: stage2/mva_evaluators.py:357-361 — the "multiclass"
  // model takes `predict_proba(X)[:, 5]`. A boosted multiclass
  // ensemble in eval mode keeps one forest PER CLASS: margin_c =
  // Σ leaf_c(x) over that class's trees, and predict_proba is the
  // softmax over the six margins; m04 ports the binary `[:, 1]`
  // sigmoid path, this ports the class-5 softmax path. Same execution
  // discipline as m04: every tree is a nested CASE over literal
  // thresholds (fully codegen'd, single scan, zero shuffle before the
  // presentation sort), the softmax is ONE fixed left-to-right
  // parenthesization shared verbatim with the oracle, and the class-5
  // probability is cast float32 to absorb libm ulp. pred_class is the
  // deterministic argmax (first max wins — ties broken by class order
  // with an identical >= chain on both engines).
  private val mcClasses = 6
  private val mcTargetClass = 5
  private def mcMargin(c: Int): String = {
    def l(x: Double) = "%.6f".formatLocal(java.util.Locale.ROOT, x)
    def tree(f1: String, t1: String, f2: String, t2: String,
             ll: String, lr: String, rl: String, rr: String): String =
      s"(CASE WHEN $f1 < $t1 THEN (CASE WHEN $f2 < $t2 THEN $ll ELSE $lr END)" +
        s" ELSE (CASE WHEN $f2 < $t2 THEN $rl ELSE $rr END) END)"
    val a = tree("f0", "0.5", "f1", "0.3",
      l(-0.30 + 0.07 * c), l(0.05 + 0.02 * c), l(-0.10 + 0.03 * c), l(0.20 - 0.04 * c))
    val b = tree("f2", "0.6", "f3", "0.5",
      l(0.10 - 0.03 * c), l(-0.20 + 0.05 * c), l(0.15 - 0.02 * c), l(-0.05 + 0.04 * c))
    s"($a + $b)"
  }
  private val mcSoftmaxDen =
    (0 until mcClasses).map(c => s"EXP(m$c)").mkString(" + ")
  private val mcPredCase = "CASE " + (0 until mcClasses).map { c =>
    val conds = (0 until mcClasses).filter(_ != c)
      .map(o => s"m$c >= m$o").mkString(" AND ")
    s"WHEN $conds THEN $c"
  }.mkString(" ") + " ELSE -1 END"
  private def m13(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val feats = ev.select((col("event_id") +: rawFeatures): _*)
    // Codegen note: this plan compiles fine (margins are separate
    // project operators, each computed once per row). The historical
    // janino-64KB fallback came from a DOWNSTREAM filter on
    // mc_score/pred_class — predicate pushdown substitutes the full
    // softmax+argmax into the filter condition once per reference
    // (Filter codegen has no subexpression elimination), so a 4-ref
    // predicate inlined the margin forest ~60×. Consumers filtering on
    // the outputs should aggregate or filter AFTER a materialization
    // boundary; the repo's own specs validate via min/max aggregates.
    val margins = feats.select(col("event_id") +:
      (0 until mcClasses).map(c => expr(mcMargin(c)).as(s"m$c")): _*)
    margins.select(col("event_id"),
        expr(s"CAST(EXP(m$mcTargetClass) / ($mcSoftmaxDen) AS FLOAT)")
          .as("mc_score"),
        expr(s"CAST($mcPredCase AS INT)").as("pred_class"))
      .orderBy(col("event_id"))
  }
  private val m13Sql = {
    val ms = (0 until mcClasses).map(c => s"${mcMargin(c)} AS m$c").mkString(", ")
    s"""SELECT event_id,
       | CAST(EXP(m$mcTargetClass) / ($mcSoftmaxDen) AS REAL) AS mc_score,
       | CAST($mcPredCase AS INT) AS pred_class
       |FROM (SELECT event_id, $ms
       |      FROM (SELECT event_id, $rawFeaturesSql FROM events))
       |ORDER BY event_id""".stripMargin
  }

  // ---- m05: one distributed logistic-regression gradient step -------------
  // The training-side primitive the feature-prep ops feed: a full-batch
  // gradient step of logistic regression, computed as ONE scan with a
  // global aggregate — per-row, per-dimension contributions
  // x_j·(σ(w·x) − y) are micro-quantized longs, so the partial sums are
  // order-free integer adds and map-side combine reduces every
  // partition to 4 longs before the (single-row) exchange. That is the
  // data-parallel SGD shape: gradients are mergeable, the model is
  // broadcast literals. σ uses exp() (libm), hence the quantization —
  // the repo's transcendental convention.
  private val lrDims = 4
  private val lrW0 = IndexedSeq("0.1", "-0.2", "0.3", "0.05")
  private val lrRate = "0.5"
  private val lrXs = IndexedSeq(
    "1.0",
    "(o_totalprice / 500000.0)",
    "((o_custkey % 97) / 97.0)",
    "(CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END)")
  private val lrY = "(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END)"
  private def m05(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val z = lrXs.indices.map(j => s"${lrW0(j)} * ${lrXs(j)}").mkString(" + ")
    val p = s"(1.0 / (1.0 + exp(-($z))))"
    val gradCols = lrXs.indices.map(j =>
      org.apache.spark.sql.functions.sum(expr(
        s"CAST(floor(${lrXs(j)} * ($p - $lrY) * 1000000 + 0.5) AS BIGINT)"))
        .as(s"g$j"))
    val agged = o.agg(gradCols.head, gradCols.tail :+ count(lit(1)).as("n"): _*)
    agged.select(Seq(col("n")) ++ lrXs.indices.flatMap { j =>
      Seq((col(s"g$j") / 1000000.0 / col("n")).cast("float").as(s"grad$j"),
        (expr(lrW0(j)) - expr(lrRate) * (col(s"g$j") / 1000000.0 / col("n")))
          .cast("float").as(s"w_new$j"))
    }: _*)
  }
  private val m05Sql = {
    val z = lrXs.indices.map(j => s"${lrW0(j)} * ${lrXs(j)}").mkString(" + ")
    val p = s"(1.0 / (1.0 + exp(-($z))))"
    val gs = lrXs.indices.map(j =>
      s"SUM(CAST(floor(${lrXs(j)} * ($p - $lrY) * 1000000 + 0.5) AS BIGINT)) AS g$j")
      .mkString(", ")
    val outs = lrXs.indices.map(j =>
      s"CAST(g$j / 1000000.0 / n AS REAL) AS grad$j, " +
        s"CAST(${lrW0(j)} - $lrRate * (g$j / 1000000.0 / n) AS REAL) AS w_new$j")
      .mkString(", ")
    s"""WITH a AS (SELECT $gs, COUNT(*) AS n FROM orders)
       |SELECT n, $outs FROM a""".stripMargin
  }

  // ---- m06 / m07: classifier evaluation harness ----------------------------
  // The eval side of the t13 quality-classifier story: a
  // precision/recall/F1 sweep over score thresholds (m06) and exact
  // rank-based AUC (m07). Both run on a deterministic integer-MILLI
  // score (an LCG hash of doc_id plus a language prior), so every
  // comparison and every fold is integer arithmetic — the cross-engine
  // determinism discipline the repo uses everywhere float order could
  // drift. Labels: lang = 'en'.
  private val evalScore =
    "(600 * ((doc_id * 1103515245 + 12345) % 997)) div 997 + " +
      "(CASE WHEN lang = 'en' THEN 350 ELSE 0 END)"
  private val evalScoreDuck = evalScore.replace(" div ", " // ")

  // m06: confusion counts + P/R/F1 at 9 thresholds in one pass. The
  // 9-row threshold grid fans out via a generator (broadcast-free);
  // the aggregate is map-side combined, so the full sweep costs one
  // scan + one 9-group shuffle at any corpus size. F1 uses the
  // single-division form 2tp/(2tp+fp+fn) — one integer-ratio cast,
  // no composed float arithmetic.
  private def m06(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
      .select(expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    d.select(col("sm"), col("y"),
        explode(expr("sequence(100L, 900L, 100L)")).as("thr"))
      .groupBy(col("thr"))
      .agg(
        sum(when(col("sm") >= col("thr"), col("y")).otherwise(0L)).as("tp"),
        sum(when(col("sm") >= col("thr"), lit(1L) - col("y")).otherwise(0L)).as("fp"),
        sum(when(col("sm") < col("thr"), col("y")).otherwise(0L)).as("fn"),
        sum(when(col("sm") < col("thr"), lit(1L) - col("y")).otherwise(0L)).as("tn"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CAST(CASE WHEN tp + fp = 0 THEN -1.0D ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS FLOAT)").as("precision"),
        expr("CAST(CASE WHEN tp + fn = 0 THEN -1.0D ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS FLOAT)").as("recall"),
        expr("CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN -1.0D ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS FLOAT)").as("f1"))
      .orderBy(col("thr"))
  }
  private val m06Sql =
    s"""WITH d AS (
       | SELECT CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents),
       |conf AS (
       | SELECT thr,
       |  CAST(SUM(CASE WHEN sm >= thr THEN y ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(SUM(CASE WHEN sm >= thr THEN 1 - y ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(SUM(CASE WHEN sm < thr THEN y ELSE 0 END) AS BIGINT) AS fn,
       |  CAST(SUM(CASE WHEN sm < thr THEN 1 - y ELSE 0 END) AS BIGINT) AS tn
       | FROM d CROSS JOIN (SELECT UNNEST(generate_series(100, 900, 100)) AS thr)
       | GROUP BY thr)
       |SELECT thr, tp, fp, fn, tn,
       | CAST(CASE WHEN tp + fp = 0 THEN -1.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS REAL) AS precision,
       | CAST(CASE WHEN tp + fn = 0 THEN -1.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS REAL) AS recall,
       | CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN -1.0 ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS REAL) AS f1
       |FROM conf ORDER BY thr""".stripMargin

  // m07: exact AUC by the Mann-Whitney rank-sum identity with average
  // ranks for ties: AUC = (S2 - npos*(npos+1)) / (2*npos*nneg) where
  // S2 = sum over positives of (2*min_rank + tie_count - 1). Computed
  // from the DISTINCT-SCORE distribution table (the m08 shape): one
  // groupBy collapses the corpus to ≤ 997 milli-score rows, the
  // exclusive cumulative count over that table gives each tie group's
  // min rank (rk = cum_prev + 1, tie = c), and the per-group
  // contribution is c1·(2·cum_prev + c + 1) — every term integer, NO
  // per-row global window (no Exchange SinglePartition): the only
  // unpartitioned window runs over the score-vocabulary-sized table.
  private def m07(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rd(s, dir, "documents")
      .select(expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    val dist = d.groupBy(col("sm"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("c1"))
    val wCum = Window.orderBy(col("sm").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    dist.withColumn("cum_prev", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .agg(
        sum(col("c1")).as("npos"),
        (sum(col("c")) - sum(col("c1"))).as("nneg"),
        sum(col("c1") * (lit(2L) * col("cum_prev") + col("c") + 1L)).as("s2"))
      .select(col("npos"), col("nneg"),
        expr("CAST(CAST(s2 - npos * (npos + 1) AS DOUBLE) / (2 * npos * nneg) AS FLOAT)")
          .as("auc"))
  }
  private val m07Sql =
    s"""WITH d AS (
       | SELECT CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents),
       |ranked AS (
       | SELECT y, RANK() OVER (ORDER BY sm ASC) AS rk,
       |  COUNT(*) OVER (PARTITION BY sm) AS tie
       | FROM d),
       |agg AS (
       | SELECT CAST(SUM(y) AS BIGINT) AS npos,
       |  CAST(COUNT(*) - SUM(y) AS BIGINT) AS nneg,
       |  CAST(SUM(CASE WHEN y = 1 THEN 2 * rk + tie - 1 ELSE 0 END) AS BIGINT) AS s2
       | FROM ranked)
       |SELECT npos, nneg,
       | CAST(CAST(s2 - npos * (npos + 1) AS DOUBLE) / (2 * npos * nneg) AS REAL) AS auc
       |FROM agg""".stripMargin

  // m08: exact two-sample Kolmogorov-Smirnov statistic between the
  // positive-class and negative-class score distributions — the
  // standard drift / separability test over the same integer-milli
  // score as m06/m07. D = max |F1 - F2| evaluates as the INTEGER
  // numerator |cum1*N0 - cum0*N1| (exact, order-free) over the
  // distinct-score table (≤ 997 rows at any corpus size — the
  // distribution, not the data), divided once at the end. One scan,
  // one vocabulary-sized cumulative window.
  private def m08(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rd(s, dir, "documents")
      .select(expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    val dist = d.groupBy(col("sm"))
      .agg(sum(col("y")).as("c1"), sum(lit(1L) - col("y")).as("c0"))
    val tot = d.agg(sum(col("y")).as("n1"),
      (count(lit(1)) - sum(col("y"))).as("n0"))
    val wCum = Window.orderBy(col("sm").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dist
      .withColumn("cum1", sum(col("c1")).over(wCum))
      .withColumn("cum0", sum(col("c0")).over(wCum))
      .crossJoin(broadcast(tot))
      .withColumn("dnum", abs(col("cum1") * col("n0") - col("cum0") * col("n1")))
    val mx = cum.agg(max(col("dnum")).as("d_num"))
    val at = cum.join(broadcast(mx), col("dnum") === col("d_num"))
      .agg(min(col("sm")).as("ks_at"))
    mx.crossJoin(broadcast(at)).crossJoin(broadcast(tot))
      .select(col("n1").as("n_pos"), col("n0").as("n_neg"), col("d_num"),
        col("ks_at"),
        expr("CAST(CAST(d_num AS DOUBLE) / (n1 * n0) AS FLOAT)").as("ks"))
  }
  private val m08Sql =
    s"""WITH d AS (
       | SELECT CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents),
       |dist AS (
       | SELECT sm, CAST(SUM(y) AS BIGINT) AS c1,
       |  CAST(SUM(1 - y) AS BIGINT) AS c0
       | FROM d GROUP BY 1),
       |tot AS (
       | SELECT CAST(SUM(y) AS BIGINT) AS n1,
       |  CAST(COUNT(*) - SUM(y) AS BIGINT) AS n0 FROM d),
       |cum AS (
       | SELECT sm,
       |  ABS(CAST(SUM(c1) OVER w AS BIGINT) * n0
       |    - CAST(SUM(c0) OVER w AS BIGINT) * n1) AS dnum, n1, n0
       | FROM dist CROSS JOIN tot
       | WINDOW w AS (ORDER BY sm ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT ANY_VALUE(n1) AS n_pos, ANY_VALUE(n0) AS n_neg,
       | MAX(dnum) AS d_num,
       | CAST(MIN(CASE WHEN dnum = (SELECT MAX(dnum) FROM cum) THEN sm END) AS BIGINT) AS ks_at,
       | CAST(CAST(MAX(dnum) AS DOUBLE) / (ANY_VALUE(n1) * ANY_VALUE(n0)) AS REAL) AS ks
       |FROM cum""".stripMargin

  // m09: decile lift/gain chart — the ranking-eval complement to m07's
  // AUC: sort by score descending, cut into 10 equal-population
  // deciles (ntile semantics), report per-decile positives, response
  // rate, and lift vs the base rate. The global ntile window is
  // REPLACED by arithmetic over a two-phase rank: a per-score-group
  // window (partitioned by sm — distributed) numbers rows within each
  // tie group by doc_id, the exclusive cumulative count over the
  // distinct-score table (vocab-sized, broadcast) supplies the group
  // offset, and global position p = cum_prev + rn. ntile(10)'s bucket
  // assignment is then pure integer arithmetic: with q = N div 10,
  // r = N mod 10, the first r buckets take q+1 rows — identical row
  // placement, no Exchange SinglePartition. Rates and lift are single
  // integer-ratio divisions cast to float32.
  private def m09(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rd(s, dir, "documents")
      .select(col("doc_id"), expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    val dist = d.groupBy(col("sm")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("sm").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = dist
      .withColumn("cum_prev", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .select(col("sm"), col("cum_prev"))
    val tot = d.agg(count(lit(1)).as("n_all"), sum(col("y")).as("p_all"))
    val wLoc = Window.partitionBy(col("sm")).orderBy(col("doc_id").asc)
    d.withColumn("rn", row_number().over(wLoc))
      .join(broadcast(offs), Seq("sm"))
      .crossJoin(broadcast(tot))
      .withColumn("p", col("cum_prev") + col("rn"))
      .withColumn("decile", expr(
        """CAST(CASE WHEN p <= (n_all % 10) * (n_all div 10 + 1)
          | THEN (p + n_all div 10) div (n_all div 10 + 1)
          | ELSE n_all % 10
          |  + (p - (n_all % 10) * (n_all div 10 + 1) + n_all div 10 - 1)
          |    div (n_all div 10) END AS INT)""".stripMargin))
      .groupBy(col("decile"), col("n_all"), col("p_all"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("tp"))
      .select(col("decile"), col("n"), col("tp"),
        expr("CAST(CAST(tp AS DOUBLE) / n AS FLOAT)").as("rate"),
        expr("CAST(CAST(tp * n_all AS DOUBLE) / (n * p_all) AS FLOAT)").as("lift"))
      .orderBy(col("decile"))
  }
  private val m09Sql =
    s"""WITH d AS (
       | SELECT doc_id, CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents),
       |tot AS (SELECT COUNT(*) AS n_all, CAST(SUM(y) AS BIGINT) AS p_all FROM d),
       |dec AS (
       | SELECT NTILE(10) OVER (ORDER BY sm DESC, doc_id ASC) AS decile, y
       | FROM d)
       |SELECT decile, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS tp,
       | CAST(CAST(SUM(y) AS DOUBLE) / COUNT(*) AS REAL) AS rate,
       | CAST(CAST(SUM(y) * n_all AS DOUBLE) / (COUNT(*) * p_all) AS REAL) AS lift
       |FROM dec CROSS JOIN tot
       |GROUP BY decile, n_all, p_all ORDER BY decile""".stripMargin

  // ---- m10: out-of-fold target encoding ------------------------------------
  // The leak-proof categorical encoder (Micci-Barreca, "A preprocessing
  // scheme for high-cardinality categorical attributes", SIGKDD
  // Explorations 2001, plus the out-of-fold discipline every gradient-
  // boosting pipeline uses): the encoding a row in fold f sees for
  // category c is built from the OTHER folds' rows only —
  //   te(c, f) = (y_oof + m·prior_oof) / (n_oof + m)
  // with n_oof/y_oof = category totals minus fold-own counts and
  // prior_oof the same subtraction globally. One groupBy builds the
  // (category, fold) cell table; totals come from windows over it — no
  // second scan, no per-row join here (the encoder TABLE is the
  // operator's output; consumers broadcast-join it). All counts are
  // integers, smoothing arithmetic is one fixed parenthesization of
  // IEEE ops, so both engines agree bit-for-bit.
  private val teSmooth = 10.0
  private def m10(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = rd(s, dir, "events")
      .select(col("event_type").as("cat"), (col("event_id") % 4).as("fold"),
        expr("CASE WHEN value > 5.0D THEN 1L ELSE 0L END").as("y"))
    val cells = e.groupBy(col("cat"), col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("yy"))
    val wc = Window.partitionBy(col("cat"))
    val wg = Window.partitionBy(lit(1))
    cells
      .withColumn("n_oof", sum(col("n")).over(wc) - col("n"))
      .withColumn("y_oof", sum(col("yy")).over(wc) - col("yy"))
      .withColumn("n_g", sum(col("n")).over(wg) - col("n"))
      .withColumn("y_g", sum(col("yy")).over(wg) - col("yy"))
      .select(col("cat"), col("fold"), col("n_oof"), col("y_oof"),
        expr(s"""CAST((CAST(y_oof AS DOUBLE) +
                 | $teSmooth * (CAST(y_g AS DOUBLE) / CAST(n_g AS DOUBLE)))
                 | / (CAST(n_oof AS DOUBLE) + $teSmooth) AS FLOAT)""".stripMargin)
          .as("te"))
      .orderBy(col("cat"), col("fold"))
  }
  private val m10Sql =
    s"""WITH e AS (
       | SELECT event_type AS cat, event_id % 4 AS fold,
       |  CASE WHEN value > 5.0 THEN 1 ELSE 0 END AS y
       | FROM events),
       |cells AS (
       | SELECT cat, fold, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS yy
       | FROM e GROUP BY 1, 2),
       |oof AS (
       | SELECT cat, fold, n, yy,
       |  SUM(n) OVER (PARTITION BY cat) - n AS n_oof,
       |  SUM(yy) OVER (PARTITION BY cat) - yy AS y_oof,
       |  SUM(n) OVER () - n AS n_g,
       |  SUM(yy) OVER () - yy AS y_g
       | FROM cells)
       |SELECT cat, fold, CAST(n_oof AS BIGINT) AS n_oof,
       | CAST(y_oof AS BIGINT) AS y_oof,
       | CAST((CAST(y_oof AS DOUBLE) +
       |   $teSmooth * (CAST(y_g AS DOUBLE) / CAST(n_g AS DOUBLE)))
       |  / (CAST(n_oof AS DOUBLE) + $teSmooth) AS REAL) AS te
       |FROM oof ORDER BY 1, 2""".stripMargin

  // ---- m11: calibration curve (reliability diagram) ------------------------
  // The third leg of the m06/m07 eval harness: bucket the integer-MILLI
  // score into 10 equal-width probability bins and report, per bin, the
  // count, positive count, mean predicted probability and observed
  // positive fraction — the reliability diagram + the per-bin terms of
  // expected calibration error. One scan, one 10-group map-side-combined
  // shuffle at any corpus size. Sums stay integer (milli-score and 0/1
  // labels); the two means are single divisions cast to float32.
  private def m11(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
      .select(expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    d.select(expr("least(sm div 100, 9L)").as("bin"), col("sm"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("n_pos"),
        sum(col("sm")).as("sum_sm"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("CAST(CAST(sum_sm AS DOUBLE) / (1000 * n) AS FLOAT)").as("mean_pred"),
        expr("CAST(CAST(n_pos AS DOUBLE) / n AS FLOAT)").as("frac_pos"))
      .orderBy(col("bin"))
  }
  private val m11Sql =
    s"""WITH e AS (
       | SELECT CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents)
       |SELECT LEAST(sm // 100, 9) AS bin, COUNT(*) AS n,
       | CAST(SUM(y) AS BIGINT) AS n_pos,
       | CAST(CAST(SUM(sm) AS DOUBLE) / (1000 * COUNT(*)) AS REAL) AS mean_pred,
       | CAST(CAST(SUM(y) AS DOUBLE) / COUNT(*) AS REAL) AS frac_pos
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- m15: exact average precision (PR-AUC) -------------------------------
  // The imbalanced-data companion to m07's ROC-AUC: area under the
  // precision-recall curve as average precision, with ties handled by
  // TIE-BLOCK (every row of a score group shares the block-end
  // precision — the deterministic variant, no within-tie order).
  // Computed entirely from the distinct-score distribution table
  // (≤ 997 rows): cumulative pos/count descending by score give each
  // block's precision; the per-block term pos_b · P@block is
  // micro-quantized by INTEGER division (pos_b · cum_pos · 10^6 div
  // cum_n — exact longs, order-free sum), and AP divides once at the
  // end. No per-row global window anywhere.
  private def m15(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rd(s, dir, "documents")
      .select(expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    val dist = d.groupBy(col("sm"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("c1"))
    val wCum = Window.orderBy(col("sm").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dist
      .withColumn("cum_n", sum(col("c")).over(wCum))
      .withColumn("cum_pos", sum(col("c1")).over(wCum))
      .agg(sum(col("c1")).as("npos"),
        (sum(col("c")) - sum(col("c1"))).as("nneg"),
        sum(expr("(c1 * cum_pos * 1000000L) div cum_n")).as("ap_q"))
      .select(col("npos"), col("nneg"),
        expr("CAST(CAST(ap_q AS DOUBLE) / (1000000.0 * npos) AS FLOAT)")
          .as("avg_precision"))
  }
  private val m15Sql =
    s"""WITH d AS (
       | SELECT CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents),
       |dist AS (
       | SELECT sm, COUNT(*) AS c, CAST(SUM(y) AS BIGINT) AS c1
       | FROM d GROUP BY 1),
       |cum AS (
       | SELECT c, c1,
       |  CAST(SUM(c) OVER w AS BIGINT) AS cum_n,
       |  CAST(SUM(c1) OVER w AS BIGINT) AS cum_pos
       | FROM dist
       | WINDOW w AS (ORDER BY sm DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT CAST(SUM(c1) AS BIGINT) AS npos,
       | CAST(SUM(c) - SUM(c1) AS BIGINT) AS nneg,
       | CAST(CAST(SUM((c1 * cum_pos * 1000000) // cum_n) AS DOUBLE)
       |   / (1000000.0 * SUM(c1)) AS REAL) AS avg_precision
       |FROM cum""".stripMargin

  // ---- m14: isotonic calibration (minimax closed form) ---------------------
  // The standard monotone recalibration (the sklearn IsotonicRegression
  // step after m11's reliability diagram), computed WITHOUT the
  // sequential pool-adjacent-violators sweep: the isotonic fit has the
  // exact minimax characterization ŷ_i = max_{j≤i} min_{k≥i} A(j,k),
  // A(j,k) = weighted mean of the observed positive fraction over bins
  // j..k = (Σ n_pos) / (Σ n) — a pure-integer ratio off prefix sums.
  // The corpus collapses to 10 bins in one scan; the minimax is O(B³)
  // relational algebra over that 10-row table (range self-join + two
  // grouped extrema), so the "sequential" algorithm costs nothing and
  // distributes trivially. Every A is one correctly-rounded division
  // of exact longs — both engines order identical doubles identically,
  // so min/max agree bit-for-bit; float32 cast at the end.
  private def m14(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rd(s, dir, "documents")
      .select(expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    val bins = d.select(expr("least(sm div 100, 9L)").as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val wCum = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one scan: the windowed bin table is materialized once and feeds
    // the self-join, the coverage join, and the final projection
    val pre = bins
      .withColumn("cn", sum(col("n")).over(wCum))
      .withColumn("cp", sum(col("n_pos")).over(wCum))
      .localCheckpoint()
    val rng = pre.as("a").join(pre.as("b"), col("a.bin") <= col("b.bin"))
      .select(col("a.bin").as("j"), col("b.bin").as("k"),
        ((col("b.cp") - col("a.cp") + col("a.n_pos")).cast("double") /
          (col("b.cn") - col("a.cn") + col("a.n"))).as("avg"))
    val fit = rng
      .join(pre.select(col("bin")),
        col("j") <= col("bin") && col("k") >= col("bin"))
      .groupBy(col("bin"), col("j")).agg(min(col("avg")).as("mn"))
      .groupBy(col("bin")).agg(max(col("mn")).as("iso"))
    pre.join(fit, "bin")
      .select(col("bin"), col("n"), col("n_pos"),
        expr("CAST(CAST(n_pos AS DOUBLE) / n AS FLOAT)").as("frac_pos"),
        col("iso").cast("float").as("iso_fit"))
      .orderBy(col("bin"))
  }
  private val m14Sql =
    s"""WITH e AS (
       | SELECT CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents),
       |bins AS (
       | SELECT LEAST(sm // 100, 9) AS bin, COUNT(*) AS n,
       |  CAST(SUM(y) AS BIGINT) AS n_pos
       | FROM e GROUP BY 1),
       |pre AS (
       | SELECT bin, n, n_pos,
       |  CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
       |  CAST(SUM(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp
       | FROM bins),
       |rng AS (
       | SELECT a.bin AS j, b.bin AS k,
       |  CAST(b.cp - a.cp + a.n_pos AS DOUBLE) / (b.cn - a.cn + a.n) AS avg
       | FROM pre a JOIN pre b ON a.bin <= b.bin),
       |fit AS (
       | SELECT i.bin, r.j, MIN(r.avg) AS mn
       | FROM rng r JOIN pre i ON r.j <= i.bin AND r.k >= i.bin
       | GROUP BY 1, 2),
       |iso AS (SELECT bin, MAX(mn) AS iso FROM fit GROUP BY 1)
       |SELECT p.bin, p.n, p.n_pos,
       | CAST(CAST(p.n_pos AS DOUBLE) / p.n AS REAL) AS frac_pos,
       | CAST(i.iso AS REAL) AS iso_fit
       |FROM pre p JOIN iso i USING (bin) ORDER BY p.bin""".stripMargin

  // ---- m17: chi-square feature selection ------------------------------------
  // The classic supervised term-selection step before training a text
  // classifier: per term, the 2×2 contingency (document presence ×
  // label) yields χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)); the
  // top-k most label-discriminative terms survive. Scale shape: the
  // corpus collapses to its distinct (doc, term) presence table (the
  // w06/t20 inverted shape), per-term counts are one vocab-bounded
  // aggregate with the 1-row label totals broadcast, and the top-k is
  // a distributed TakeOrderedAndProject. χ² is ONE fixed-
  // parenthesization double expression over five exact longs, so both
  // engines order candidates identically; term breaks ties.
  private val chiTopK = 20
  private def m17(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rd(s, dir, "documents")
      .select(col("doc_id"), expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"),
        col("text"))
    val pres = d.select(col("doc_id"), col("y"),
        explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .select(col("doc_id"), col("y"), col("term")).distinct()
    val tot = d.select(col("doc_id"), col("y")).distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
    val counts = pres.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("y")).as("a"))
    val chi = "CAST(n_docs AS DOUBLE) * ((a * d2 - b * c) * (a * d2 - b * c))" +
      " / ((CAST(a + b AS DOUBLE)) * (c + d2) * (a + c) * (b + d2))"
    val w = Window.orderBy(col("chi2").desc, col("term").asc)
    counts.crossJoin(broadcast(tot))
      .withColumn("b", col("df") - col("a"))                // term, not en
      .withColumn("c", col("n_pos") - col("a"))             // no term, en
      .withColumn("d2", col("n_docs") - col("n_pos") - col("b")) // neither
      .withColumn("chi2", expr(chi).cast("float"))
      .orderBy(col("chi2").desc, col("term").asc)
      .limit(chiTopK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("term"), col("df"), col("a"), col("b"),
        col("c"), col("d2"), col("chi2"))
      .orderBy(col("rank"))
  }
  private val m17Sql = {
    val chi = "CAST(n_docs AS DOUBLE) * ((a * d2 - b * c) * (a * d2 - b * c))" +
      " / ((CAST(a + b AS DOUBLE)) * (c + d2) * (a + c) * (b + d2))"
    s"""WITH d AS (
       | SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
       | FROM documents),
       |pres AS (
       | SELECT DISTINCT doc_id, y, term FROM (
       |  SELECT doc_id, y, UNNEST(string_split(text, ' ')) AS term FROM d)
       | WHERE LENGTH(term) > 0),
       |tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos
       |        FROM d),
       |counts AS (
       | SELECT term, COUNT(*) AS df, CAST(SUM(y) AS BIGINT) AS a
       | FROM pres GROUP BY 1),
       |cells AS (
       | SELECT term, df, a, df - a AS b, n_pos - a AS c,
       |  n_docs - n_pos - (df - a) AS d2, n_docs
       | FROM counts CROSS JOIN tot),
       |scored AS (SELECT term, df, a, b, c, d2,
       |  CAST($chi AS REAL) AS chi2 FROM cells)
       |SELECT rank, term, df, a, b, c, d2, chi2 FROM (
       | SELECT *, ROW_NUMBER() OVER (ORDER BY chi2 DESC, term ASC) AS rank
       | FROM scored)
       |WHERE rank <= $chiTopK ORDER BY rank""".stripMargin
  }

  // ---- m20: population stability index (score drift monitor) ---------------
  // The standard MLOps drift report between a reference and a serving
  // score distribution (here: fold 0 as reference vs folds 1-3, the
  // m01 split): per m11-style decile bin, PSI_i = (p_i − q_i)·ln(p_i/q_i)
  // and the headline PSI is the sum (rule of thumb: < 0.1 stable,
  // > 0.25 shifted). Counts are exact integers from ONE scan; shares
  // are single divisions; the 10 double terms sum via the ordered-fold
  // rule (m16's discipline) so both engines add identically. Empty
  // bins contribute 0 by convention (documented, mirrored in the
  // oracle).
  private def m20(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rd(s, dir, "documents")
      .select(expr("least(CAST(" + evalScore + " AS BIGINT) div 100, 9L)").as("bin"),
        expr("CASE WHEN doc_id % 4 = 0 THEN 1L ELSE 0L END").as("is_ref"))
    val bins = d.groupBy(col("bin"))
      .agg(sum(col("is_ref")).as("e_n"),
        (count(lit(1)) - sum(col("is_ref"))).as("a_n"))
    val tot = bins.agg(sum(col("e_n")).as("et"), sum(col("a_n")).as("at"))
    val term = """CASE WHEN e_n = 0 OR a_n = 0 THEN 0.0D
      | ELSE ((CAST(e_n AS DOUBLE) / et) - (CAST(a_n AS DOUBLE) / at))
      |  * ln((CAST(e_n AS DOUBLE) / et) / (CAST(a_n AS DOUBLE) / at))
      | END""".stripMargin
    val terms = bins.crossJoin(broadcast(tot))
      .withColumn("psi_term", expr(term))
    val total = terms
      .agg(expr("aggregate(transform(array_sort(collect_list(struct(bin, psi_term)))," +
        " x -> x.psi_term), 0.0D, (acc, v) -> acc + v)").as("psi"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("e_n"), col("a_n"),
        expr("CAST(CAST(e_n AS DOUBLE) / et AS FLOAT)").as("p_ref"),
        expr("CAST(CAST(a_n AS DOUBLE) / at AS FLOAT)").as("p_act"),
        col("psi_term").cast("float").as("psi_term"),
        col("psi").cast("float").as("psi_total"))
      .orderBy(col("bin"))
  }
  private val m20Sql = {
    val term = """CASE WHEN e_n = 0 OR a_n = 0 THEN 0.0
      | ELSE ((CAST(e_n AS DOUBLE) / et) - (CAST(a_n AS DOUBLE) / at))
      |  * ln((CAST(e_n AS DOUBLE) / et) / (CAST(a_n AS DOUBLE) / at))
      | END""".stripMargin
    s"""WITH d AS (
       | SELECT LEAST(CAST($evalScoreDuck AS BIGINT) // 100, 9) AS bin,
       |  CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS is_ref
       | FROM documents),
       |bins AS (
       | SELECT bin, CAST(SUM(is_ref) AS BIGINT) AS e_n,
       |  CAST(COUNT(*) - SUM(is_ref) AS BIGINT) AS a_n
       | FROM d GROUP BY 1),
       |tot AS (SELECT CAST(SUM(e_n) AS BIGINT) AS et,
       |         CAST(SUM(a_n) AS BIGINT) AS at FROM bins),
       |terms AS (
       | SELECT bin, e_n, a_n, et, at, $term AS psi_term
       | FROM bins CROSS JOIN tot),
       |total AS (
       | SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |   list(psi_term ORDER BY bin)), (acc, v) -> acc + v) AS psi
       | FROM terms)
       |SELECT bin, e_n, a_n,
       | CAST(CAST(e_n AS DOUBLE) / et AS REAL) AS p_ref,
       | CAST(CAST(a_n AS DOUBLE) / at AS REAL) AS p_act,
       | CAST(psi_term AS REAL) AS psi_term,
       | CAST(psi AS REAL) AS psi_total
       |FROM terms CROSS JOIN total ORDER BY bin""".stripMargin
  }

  // ---- m19: exact Kendall tau-b between two scorers ------------------------
  // The rank-correlation check between two scoring functions (model
  // refresh vs incumbent, heuristic vs learned) — exact, WITHOUT the
  // O(n²) pair join: both scores are integer-milli, so the corpus
  // collapses to the JOINT score grid (≤ |A|·|B| ≈ 10⁶ cells at any
  // corpus size; densified by a broadcast cross of the two value
  // lists), concordant/discordant pair counts come from 2-D prefix
  // sums over that grid (two KEYED cumulative windows — row prefix per
  // sa, then column prefix per sb — never a global funnel), and tie
  // terms from the per-axis marginals. Every count is an exact long;
  // tau-b's sqrt runs once on exact inputs.
  private val evalScoreB =
    "(500 * ((doc_id * 1103515245 + 12345) % 997)) div 997 + " +
      "(300 * ((doc_id * 69069 + 1) % 991)) div 991"
  private val evalScoreBDuck = evalScoreB.replace(" div ", " // ")
  private def m19(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rd(s, dir, "documents")
      .select(expr(s"CAST($evalScore AS BIGINT)").as("sa"),
        expr(s"CAST($evalScoreB AS BIGINT)").as("sb"))
    val cells = d.groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n"))
    val avals = cells.select(col("sa")).distinct()
    val bvals = cells.select(col("sb")).distinct()
    val grid = avals.crossJoin(broadcast(bvals))
      .join(cells, Seq("sa", "sb"), "left")
      .select(col("sa"), col("sb"), coalesce(col("n"), lit(0L)).as("n"))
    val wRow = Window.partitionBy(col("sa")).orderBy(col("sb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCol = Window.partitionBy(col("sb")).orderBy(col("sa"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = grid
      .withColumn("rowcum", sum(col("n")).over(wRow))
      .withColumn("colcum", sum(col("n")).over(wCol))
      .withColumn("p", sum(col("rowcum")).over(wCol))
    val rowTots = d.groupBy(col("sa")).agg(count(lit(1)).as("rt"))
    val wA = Window.orderBy(col("sa"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val below = rowTots
      .withColumn("below", sum(col("rt")).over(wA) - col("rt"))
      .select(col("sa"), col("below"))
    val cd = pre.filter(col("n") > 0)
      .join(broadcast(below), Seq("sa"))
      .agg(
        sum(col("n") * (col("p") - col("rowcum") - col("colcum") + col("n")))
          .as("conc"),
        sum(col("n") * (col("below") - (col("p") - col("rowcum"))))
          .as("disc"))
    val tieA = d.groupBy(col("sa")).agg(count(lit(1)).as("t"))
      .agg(sum(expr("t * (t - 1) div 2")).as("n1"), sum(col("t")).as("nn"))
    val tieB = d.groupBy(col("sb")).agg(count(lit(1)).as("t"))
      .agg(sum(expr("t * (t - 1) div 2")).as("n2"))
    cd.crossJoin(broadcast(tieA)).crossJoin(broadcast(tieB))
      .select(col("nn").as("n_rows"), col("conc"), col("disc"),
        col("n1"), col("n2"),
        expr("""CAST(CAST(conc - disc AS DOUBLE) /
            | SQRT(CAST(nn * (nn - 1) div 2 - n1 AS DOUBLE)
            |       * CAST(nn * (nn - 1) div 2 - n2 AS DOUBLE)) AS FLOAT)"""
          .stripMargin).as("tau_b"))
  }
  private val m19Sql =
    s"""WITH d AS (
       | SELECT CAST($evalScoreDuck AS BIGINT) AS sa,
       |  CAST($evalScoreBDuck AS BIGINT) AS sb
       | FROM documents),
       |cells AS (SELECT sa, sb, COUNT(*) AS n FROM d GROUP BY 1, 2),
       |grid AS (
       | SELECT av.sa, bv.sb, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
       | FROM (SELECT DISTINCT sa FROM cells) av
       | CROSS JOIN (SELECT DISTINCT sb FROM cells) bv
       | LEFT JOIN cells c ON c.sa = av.sa AND c.sb = bv.sb),
       |pre AS (
       | SELECT sa, sb, n,
       |  CAST(SUM(n) OVER (PARTITION BY sa ORDER BY sb
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rowcum,
       |  CAST(SUM(n) OVER (PARTITION BY sb ORDER BY sa
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS colcum
       | FROM grid),
       |pre2 AS (
       | SELECT sa, sb, n, rowcum, colcum,
       |  CAST(SUM(rowcum) OVER (PARTITION BY sb ORDER BY sa
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
       | FROM pre),
       |rt AS (SELECT sa, COUNT(*) AS t FROM d GROUP BY 1),
       |bel AS (
       | SELECT sa,
       |  CAST(SUM(t) OVER (ORDER BY sa
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t AS BIGINT) AS below
       | FROM rt),
       |cd AS (
       | SELECT
       |  CAST(SUM(n * (p - rowcum - colcum + n)) AS BIGINT) AS conc,
       |  CAST(SUM(n * (below - (p - rowcum))) AS BIGINT) AS disc
       | FROM pre2 JOIN bel USING (sa) WHERE n > 0),
       |tA AS (SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n1,
       |        CAST(SUM(t) AS BIGINT) AS nn FROM rt),
       |tB AS (SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n2
       |       FROM (SELECT sb, COUNT(*) AS t FROM d GROUP BY 1))
       |SELECT nn AS n_rows, conc, disc, n1, n2,
       | CAST(CAST(conc - disc AS DOUBLE) /
       |  SQRT(CAST(nn * (nn - 1) // 2 - n1 AS DOUBLE)
       |       * CAST(nn * (nn - 1) // 2 - n2 AS DOUBLE)) AS REAL) AS tau_b
       |FROM cd CROSS JOIN tA CROSS JOIN tB""".stripMargin

  // ---- m18: cross-validated AUC (per-fold metric stability) ----------------
  // The eval-rigor companion to m07: the SAME exact tie-averaged AUC,
  // computed independently per m01-style fold (doc_id mod 4) so metric
  // SPREAD across folds is visible — the standard check that a single
  // headline AUC is not fold luck. Everything runs per fold in one
  // plan: the distribution table gains a fold key, the cumulative
  // window is PARTITIONED by fold (distributed — never a global
  // funnel), and the rank-sum identity folds per group. Four rows out
  // at any corpus size.
  private def m18(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rd(s, dir, "documents")
      .select((col("doc_id") % 4).as("fold"),
        expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    val dist = d.groupBy(col("fold"), col("sm"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("c1"))
    val wCum = Window.partitionBy(col("fold")).orderBy(col("sm").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    dist.withColumn("cum_prev", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .groupBy(col("fold"))
      .agg(
        sum(col("c1")).as("npos"),
        (sum(col("c")) - sum(col("c1"))).as("nneg"),
        sum(col("c1") * (lit(2L) * col("cum_prev") + col("c") + 1L)).as("s2"))
      .select(col("fold"), col("npos"), col("nneg"),
        expr("CAST(CAST(s2 - npos * (npos + 1) AS DOUBLE) / (2 * npos * nneg) AS FLOAT)")
          .as("auc"))
      .orderBy(col("fold"))
  }
  private val m18Sql =
    s"""WITH d AS (
       | SELECT doc_id % 4 AS fold, CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents),
       |dist AS (
       | SELECT fold, sm, COUNT(*) AS c, CAST(SUM(y) AS BIGINT) AS c1
       | FROM d GROUP BY 1, 2),
       |cum AS (
       | SELECT fold, c, c1,
       |  CAST(COALESCE(SUM(c) OVER (PARTITION BY fold ORDER BY sm ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum_prev
       | FROM dist)
       |SELECT fold, CAST(SUM(c1) AS BIGINT) AS npos,
       | CAST(SUM(c) - SUM(c1) AS BIGINT) AS nneg,
       | CAST(CAST(SUM(c1 * (2 * cum_prev + c + 1))
       |   - SUM(c1) * (SUM(c1) + 1) AS DOUBLE)
       |  / (2 * SUM(c1) * (SUM(c) - SUM(c1))) AS REAL) AS auc
       |FROM cum GROUP BY fold ORDER BY fold""".stripMargin

  // ---- m16: Brier score + Murphy decomposition -----------------------------
  // The proper-scoring-rule health check: Brier = mean (p − y)² plus
  // Murphy's REL − RES + UNC decomposition over the m11 bins
  // (reliability = calibration gap, resolution = how much the bins
  // separate, uncertainty = base-rate variance). Brier itself is an
  // exact integer sum ((sm − 1000y)² per row, map-side combined).
  // The decomposition's per-bin terms are doubles, so the 10-bin
  // reduction uses the repo's ORDERED-FOLD rule (u10's trick): terms
  // are collected WITH their bin key, sorted, and folded left-to-right
  // — both engines add identical doubles in identical order, so the
  // hash cannot drift. One scan; everything after is 10-row algebra.
  private def m16(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
      .select(expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    val bins = d.select(expr("least(sm div 100, 9L)").as("bin"), col("sm"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"), sum(col("sm")).as("ss"),
        sum(expr("(sm - 1000 * y) * (sm - 1000 * y)")).as("sq"))
    val tot = bins.agg(sum(col("n")).as("nn"), sum(col("p")).as("pp"),
      sum(col("sq")).as("sqq"))
    val relT = "n * ((CAST(ss AS DOUBLE) / (1000.0 * n)) - (CAST(p AS DOUBLE) / n))" +
      " * ((CAST(ss AS DOUBLE) / (1000.0 * n)) - (CAST(p AS DOUBLE) / n))"
    val resT = "n * ((CAST(p AS DOUBLE) / n) - (CAST(pp AS DOUBLE) / nn))" +
      " * ((CAST(p AS DOUBLE) / n) - (CAST(pp AS DOUBLE) / nn))"
    def fold(term: String) =
      s"aggregate(transform(array_sort(collect_list(struct(bin, $term)))," +
        s" x -> x.$term), 0.0D, (acc, v) -> acc + v)"
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("nn"), col("pp"), col("sqq"),
        expr(relT).as("rel_term"), expr(resT).as("res_term"))
      .groupBy(col("nn"), col("pp"), col("sqq"))
      .agg(expr(fold("rel_term")).as("rel_sum"),
        expr(fold("res_term")).as("res_sum"))
      .select(col("nn").as("n_rows"),
        expr("CAST(CAST(sqq AS DOUBLE) / (1000000.0 * nn) AS FLOAT)").as("brier"),
        expr("CAST(rel_sum / nn AS FLOAT)").as("reliability"),
        expr("CAST(res_sum / nn AS FLOAT)").as("resolution"),
        expr("CAST((CAST(pp AS DOUBLE) / nn) * (1.0 - CAST(pp AS DOUBLE) / nn) AS FLOAT)")
          .as("uncertainty"))
  }
  private val m16Sql = {
    val relT = "n * ((CAST(ss AS DOUBLE) / (1000.0 * n)) - (CAST(p AS DOUBLE) / n))" +
      " * ((CAST(ss AS DOUBLE) / (1000.0 * n)) - (CAST(p AS DOUBLE) / n))"
    val resT = "n * ((CAST(p AS DOUBLE) / n) - (CAST(pp AS DOUBLE) / nn))" +
      " * ((CAST(p AS DOUBLE) / n) - (CAST(pp AS DOUBLE) / nn))"
    def fold(c: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list($c ORDER BY bin)), (acc, v) -> acc + v)"
    s"""WITH e AS (
       | SELECT CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents),
       |bins AS (
       | SELECT LEAST(sm // 100, 9) AS bin, COUNT(*) AS n,
       |  CAST(SUM(y) AS BIGINT) AS p, CAST(SUM(sm) AS BIGINT) AS ss,
       |  CAST(SUM((sm - 1000 * y) * (sm - 1000 * y)) AS BIGINT) AS sq
       | FROM e GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(p) AS BIGINT) AS pp,
       |         CAST(SUM(sq) AS BIGINT) AS sqq FROM bins),
       |terms AS (
       | SELECT bin, nn, pp, sqq, $relT AS rel_term, $resT AS res_term
       | FROM bins CROSS JOIN tot)
       |SELECT nn AS n_rows,
       | CAST(CAST(sqq AS DOUBLE) / (1000000.0 * nn) AS REAL) AS brier,
       | CAST(${fold("rel_term")} / nn AS REAL) AS reliability,
       | CAST(${fold("res_term")} / nn AS REAL) AS resolution,
       | CAST((CAST(pp AS DOUBLE) / nn) * (1.0 - CAST(pp AS DOUBLE) / nn) AS REAL)
       |   AS uncertainty
       |FROM terms GROUP BY nn, pp, sqq""".stripMargin
  }

  // ---- m12: full confusion report at the operating point -------------------
  // The single-threshold companion to m06's sweep: confusion counts
  // plus the chance-corrected metrics a model card reports — accuracy,
  // balanced accuracy, Matthews correlation, Cohen's kappa. One scan,
  // one global 4-long aggregate (map-side combined). Counts are
  // integers; MCC's numerator tp·tn − fp·fn stays in BIGINT, its
  // 4-factor denominator product would NOT (n⁴), so it multiplies in
  // DOUBLE with fixed parenthesization — identical correctly-rounded
  // ops on both engines; kappa's denominator stays integer. Each
  // metric is a closed-form expression over the same four exact longs.
  private val m12Thr = 500L
  private def m12(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
      .select(expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    d.agg(
        sum(when(col("sm") >= m12Thr, col("y")).otherwise(0L)).as("tp"),
        sum(when(col("sm") >= m12Thr, lit(1L) - col("y")).otherwise(0L)).as("fp"),
        sum(when(col("sm") < m12Thr, col("y")).otherwise(0L)).as("fn"),
        sum(when(col("sm") < m12Thr, lit(1L) - col("y")).otherwise(0L)).as("tn"))
      .select(lit(m12Thr).as("thr"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CAST(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS FLOAT)")
          .as("accuracy"),
        expr("""CAST((CAST(tp AS DOUBLE) / (tp + fn)
               | + CAST(tn AS DOUBLE) / (tn + fp)) / 2 AS FLOAT)""".stripMargin)
          .as("balanced_accuracy"),
        expr("""CAST(CAST(tp * tn - fp * fn AS DOUBLE)
               | / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
               |   * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) AS FLOAT)"""
          .stripMargin).as("mcc"),
        expr("""CAST(CAST(2 * (tp * tn - fp * fn) AS DOUBLE)
               | / ((tp + fp) * (fp + tn) + (tp + fn) * (fn + tn)) AS FLOAT)"""
          .stripMargin).as("kappa"))
  }
  private val m12Sql =
    s"""WITH d AS (
       | SELECT CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents),
       |c AS (
       | SELECT
       |  CAST(SUM(CASE WHEN sm >= $m12Thr THEN y ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(SUM(CASE WHEN sm >= $m12Thr THEN 1 - y ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(SUM(CASE WHEN sm < $m12Thr THEN y ELSE 0 END) AS BIGINT) AS fn,
       |  CAST(SUM(CASE WHEN sm < $m12Thr THEN 1 - y ELSE 0 END) AS BIGINT) AS tn
       | FROM d)
       |SELECT CAST($m12Thr AS BIGINT) AS thr, tp, fp, fn, tn,
       | CAST(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS REAL) AS accuracy,
       | CAST((CAST(tp AS DOUBLE) / (tp + fn)
       |  + CAST(tn AS DOUBLE) / (tn + fp)) / 2 AS REAL) AS balanced_accuracy,
       | CAST(CAST(tp * tn - fp * fn AS DOUBLE)
       |  / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
       |    * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) AS REAL) AS mcc,
       | CAST(CAST(2 * (tp * tn - fp * fn) AS DOUBLE)
       |  / ((tp + fp) * (fp + tn) + (tp + fn) * (fn + tn)) AS REAL) AS kappa
       |FROM c""".stripMargin

  // ---- m21: exact SHAP attribution for the linear model --------------------
  // Model explainability at corpus scale: for a linear model the
  // Shapley values are CLOSED FORM, φ_j(x) = w_j·(x_j − E[x_j])
  // (Lundberg & Lee 2017, §4 "Linear SHAP") — so the whole attribution
  // table is one 1-row feature-means aggregate broadcast back onto one
  // scan. The additivity identity Σφ_j = logit(x) − logit(E[x]) is
  // emitted as a column so downstream checks need no recomputation.
  // Reuses m05's model (weights) and feature spellings; means are
  // plain double sums whose last-ulp order drift the float32 cast
  // absorbs (the f02 convention).
  // m05's feature spellings with ALL arithmetic forced into the double
  // domain: decimal-point literals parse as DECIMAL in both engines,
  // and a BIGINT/DECIMAL division is DECIMAL division whose result
  // SCALE differs between Spark and DuckDB (each rounds to a different
  // number of fraction digits) — x2's inner cast makes it float
  // division; unquantized outputs (unlike m05's micro-quantized
  // gradients) would expose that divergence directly.
  private val shapXs = IndexedSeq(
    "CAST(1.0 AS DOUBLE)",
    "(o_totalprice / 500000.0)",
    "(CAST(o_custkey % 97 AS DOUBLE) / 97.0)",
    "(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)")
  private def m21(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val featCols = shapXs.indices.map(j => expr(shapXs(j)).as(s"x$j"))
    val base = o.select(col("o_orderkey") +: featCols: _*)
    // feature means from EXACT integer sums (cents / residues / flags):
    // a plain AVG's partial-sum order differs between engines, and with
    // UNquantized phi outputs a last-ulp mean drift can straddle a
    // float32 rounding boundary; integer sums make every mean
    // bit-identical by construction
    val means = o.agg(
        expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)").as("s1"),
        expr("CAST(SUM(o_custkey % 97) AS DOUBLE)").as("s2"),
        expr("CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE)").as("s3"),
        count(lit(1)).cast("double").as("cnt"))
      .select(expr("CAST(1.0 AS DOUBLE)").as("mu0"),
        expr("s1 / cnt / 100.0 / 500000.0").as("mu1"),
        expr("s2 / cnt / 97.0").as("mu2"),
        expr("s3 / cnt").as("mu3"))
    val phiCols = shapXs.indices.map(j =>
      expr(s"CAST(${lrW0(j)} * (x$j - mu$j) AS FLOAT)").as(s"phi$j"))
    val logit = shapXs.indices.map(j => s"${lrW0(j)} * x$j").mkString(" + ")
    base.crossJoin(broadcast(means))
      .select(Seq(col("o_orderkey")) ++ phiCols :+
        expr(s"CAST($logit AS FLOAT)").as("logit"): _*)
      .orderBy(col("o_orderkey"))
  }
  private val m21Sql = {
    val feats = shapXs.indices.map(j => s"${shapXs(j)} AS x$j").mkString(", ")
    val phis = shapXs.indices.map(j =>
      s"CAST(${lrW0(j)} * (x$j - mu$j) AS REAL) AS phi$j").mkString(",\n | ")
    val logit = shapXs.indices.map(j => s"${lrW0(j)} * x$j").mkString(" + ")
    s"""WITH base AS (SELECT o_orderkey, $feats FROM orders),
       |sums AS (
       | SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) AS s1,
       |  CAST(SUM(o_custkey % 97) AS DOUBLE) AS s2,
       |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE) AS s3,
       |  CAST(COUNT(*) AS DOUBLE) AS cnt
       | FROM orders),
       |mu AS (SELECT CAST(1.0 AS DOUBLE) AS mu0, s1 / cnt / 100.0 / 500000.0 AS mu1,
       |        s2 / cnt / 97.0 AS mu2, s3 / cnt AS mu3 FROM sums)
       |SELECT o_orderkey,
       | $phis,
       | CAST($logit AS REAL) AS logit
       |FROM base CROSS JOIN mu
       |ORDER BY o_orderkey""".stripMargin
  }

  // ---- m22: weight-of-evidence encoding + information value ---------------
  // The credit-scoring categorical encoder (Siddiqi, "Credit Risk
  // Scorecards"): per category c of a feature,
  //   WOE_c = ln( (bad_c/B) / (good_c/G) )   (0.5-smoothed)
  //   IV    = Σ_c (bad_c/B − good_c/G) · WOE_c
  // Feature = o_orderpriority, target = (o_orderstatus = 'F'). ONE
  // map-side-combined groupBy + a broadcast 1-row totals dim; counts
  // are exact longs, the single ln per category is cast float32, and
  // the IV sum is micro-quantized (⌊term·10⁹⌋ longs) so the 5-term
  // fold is order-free on both engines.
  private def m22(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val cats = o.groupBy(col("o_orderpriority").as("category"))
      .agg(sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_bad"),
        sum(when(col("o_orderstatus") =!= "F", 1L).otherwise(0L)).as("n_good"))
    val tot = cats.agg(sum(col("n_bad")).as("tb"), sum(col("n_good")).as("tg"))
    val woe = "LN(((CAST(n_bad AS DOUBLE) + 0.5) / tb) / ((CAST(n_good AS DOUBLE) + 0.5) / tg))"
    val term = s"((CAST(n_bad AS DOUBLE) / tb - CAST(n_good AS DOUBLE) / tg) * $woe)"
    val scored = cats.crossJoin(broadcast(tot))
      .select(col("category"), col("n_bad"), col("n_good"),
        expr(s"CAST($woe AS FLOAT)").as("woe"),
        expr(s"CAST(FLOOR($term * 1000000000.0) AS BIGINT)").as("iv_term_nano"))
      .localCheckpoint() // tiny; feeds its own IV total
    val iv = scored.agg(sum(col("iv_term_nano")).as("iv_nano"))
    scored.crossJoin(broadcast(iv))
      .select(col("category"), col("n_bad"), col("n_good"), col("woe"),
        col("iv_term_nano"), col("iv_nano"))
      .orderBy(col("category"))
  }
  private val m22Sql = {
    val woe = "LN(((CAST(n_bad AS DOUBLE) + 0.5) / tb) / ((CAST(n_good AS DOUBLE) + 0.5) / tg))"
    val term = s"((CAST(n_bad AS DOUBLE) / tb - CAST(n_good AS DOUBLE) / tg) * $woe)"
    s"""WITH cats AS (
       | SELECT o_orderpriority AS category,
       |  SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_bad,
       |  SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS n_good
       | FROM orders GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_bad) AS DOUBLE) AS tb,
       |               CAST(SUM(n_good) AS DOUBLE) AS tg FROM cats),
       |scored AS (
       | SELECT category, CAST(n_bad AS BIGINT) AS n_bad,
       |  CAST(n_good AS BIGINT) AS n_good,
       |  CAST($woe AS REAL) AS woe,
       |  CAST(FLOOR($term * 1000000000.0) AS BIGINT) AS iv_term_nano
       | FROM cats CROSS JOIN tot),
       |iv AS (SELECT CAST(SUM(iv_term_nano) AS BIGINT) AS iv_nano FROM scored)
       |SELECT category, n_bad, n_good, woe, iv_term_nano, iv_nano
       |FROM scored CROSS JOIN iv
       |ORDER BY category""".stripMargin
  }

  // ---- m23: partial-dependence plot (tree ensemble) ------------------------
  // The model-explainability companion of m21's SHAP: PD(g) = the mean
  // prediction with feature f0 FORCED to grid value g over the whole
  // corpus (Friedman 2001 §8.2). Scale shape: the 10-point literal grid
  // broadcasts onto ONE scan (a 10× row fan-out — the s06 variation
  // discipline, never 10 re-scans), per-row probabilities are
  // micro-quantized (1e6) to exact longs so the per-grid-point mean is
  // an order-free integer sum, and the output is 10 rows. Trees are
  // m04's (same thresholds/leaves, f0 replaced by g).
  private val pdpGrid: Seq[String] =
    (0 until 10).map(i => "%.2f".formatLocal(java.util.Locale.ROOT, 0.05 + 0.1 * i))
  private def m23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = rd(s, dir, "events")
    val feats = ev.select(rawFeatures: _*)
    val grid = pdpGrid.map(_.toDouble).toDF("g")
    def tree(f1c: Column, t1: Double, f2c: Column, t2: Double,
             ll: Double, lr: Double, rl: Double, rr: Double): Column =
      when(f1c < t1, when(f2c < t2, ll).otherwise(lr))
        .otherwise(when(f2c < t2, rl).otherwise(rr))
    val sumLeaf = tree(col("g"), 0.5, col("f1"), 0.3, -0.2, 0.1, 0.05, 0.3) +
      tree(col("f2"), 0.6, col("f3"), 0.5, -0.15, 0.02, 0.1, 0.25) +
      tree(col("f1"), 0.4, col("g"), 0.7, -0.1, 0.12, -0.02, 0.2)
    val probMicro = floor(lit(1.0) / (lit(1.0) + exp(negate(sumLeaf))) *
      1000000.0 + 0.5).cast("long")
    feats.crossJoin(broadcast(grid))
      .select(col("g"), probMicro.as("pm_micro"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"), sum(col("pm_micro")).as("pm_sum"))
      .select(col("g"), col("n_rows"),
        (col("pm_sum").cast("double") / col("n_rows") / 1000000.0)
          .cast("float").as("pdp"))
      .orderBy(col("g"))
  }
  private val m23Sql = {
    // leaves cast to DOUBLE: decimal-point literals are DECIMAL in
    // DuckDB and the 3-tree sum would run in exact decimal before EXP,
    // a (tiny) different value than Spark's double fold — the micro
    // (1e6) quantization floor makes that worth closing, not absorbing
    def tree(f1: String, t1: Double, f2: String, t2: Double,
             ll: Double, lr: Double, rl: Double, rr: Double): String =
      s"(CASE WHEN $f1 < $t1 THEN (CASE WHEN $f2 < $t2 THEN CAST($ll AS DOUBLE) ELSE CAST($lr AS DOUBLE) END)" +
        s" ELSE (CASE WHEN $f2 < $t2 THEN CAST($rl AS DOUBLE) ELSE CAST($rr AS DOUBLE) END) END)"
    val sumLeaf = Seq(
      tree("g", 0.5, "f1", 0.3, -0.2, 0.1, 0.05, 0.3),
      tree("f2", 0.6, "f3", 0.5, -0.15, 0.02, 0.1, 0.25),
      tree("f1", 0.4, "g", 0.7, -0.1, 0.12, -0.02, 0.2)).mkString(" + ")
    val gridRows = pdpGrid.map(g => s"($g)").mkString(", ")
    s"""WITH feats AS (SELECT $rawFeaturesSql FROM events),
       |grid AS (SELECT CAST(g0 AS DOUBLE) AS g FROM (VALUES $gridRows) AS gr(g0)),
       |fanned AS (
       | SELECT g,
       |  CAST(FLOOR(1.0 / (1.0 + EXP(-($sumLeaf))) * 1000000.0 + 0.5) AS BIGINT) AS pm
       | FROM feats CROSS JOIN grid)
       |SELECT g, COUNT(*) AS n_rows,
       | CAST(CAST(CAST(SUM(pm) AS BIGINT) AS DOUBLE) / COUNT(*) / 1000000.0 AS REAL) AS pdp
       |FROM fanned GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- m25: Poisson-bootstrap confidence interval ---------------------------
  // The bootstrap that actually runs at 100 TB (Chamandy et al. 2012,
  // "Estimating Uncertainty for Massive Data Streams" — the Google
  // Poisson bootstrap): instead of resampling rows (impossible
  // distributed — you'd need n draws WITH replacement across machines),
  // each row contributes an independent Poisson(1) weight to each of R
  // replicas, and the spread of the R replicate means is the sampling
  // distribution. One corpus scan, R×2 aggregate COLUMNS (no row
  // fan-out at all), a 32-row stack, and an exact percentile for the
  // 95% interval. Weights come from a seeded integer LCG through the
  // Poisson(1) inverse CDF — a micro-long threshold ladder whose
  // cumulative constants are ONE Scala-computed literal list shared by
  // both engines — so the entire bootstrap is reproducible
  // bit-for-bit (the t30 seeded-noise discipline).
  private val bootR = 32
  private val poisCum: Seq[Long] = {
    // cumulative Poisson(1) CDF at k = 0..5, micro-quantized; k >= 6
    // pools the remaining 0.06% tail
    val p = (0 to 5).scanLeft(0.0) { (acc, k) =>
      acc + math.exp(-1.0) / (1 to k).product.toDouble.max(1.0)
    }.tail
    p.map(c => math.floor(c * 1e6 + 0.5).toLong)
  }
  private def bootW(r: Int): String = {
    // operand is non-negative (orderkey >= 0), so plain % is pmod on
    // both engines — one shared spelling
    val h = s"(((o_orderkey % 1000003) * 1103515245 + $r * 2654435761) % 1000000)"
    s"(CASE WHEN $h < ${poisCum(0)} THEN 0 WHEN $h < ${poisCum(1)} THEN 1 " +
      s"WHEN $h < ${poisCum(2)} THEN 2 WHEN $h < ${poisCum(3)} THEN 3 " +
      s"WHEN $h < ${poisCum(4)} THEN 4 WHEN $h < ${poisCum(5)} THEN 5 " +
      s"ELSE 6 END)"
  }
  private def m25(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT)").as("xm"))
    val aggs = (0 until bootR).flatMap { r =>
      Seq(expr(s"SUM(${bootW(r)} * xm)").as(s"s$r"),
        expr(s"SUM(${bootW(r)})").as(s"n$r"))
    } ++ Seq(expr("SUM(xm)").as("sx"), expr("COUNT(*)").as("nx"))
    val wide = o.agg(aggs.head, aggs.tail: _*)
    val stackArgs = (0 until bootR)
      .map(r => s"$r, CAST(s$r AS DOUBLE) / n$r").mkString(", ")
    val reps = wide.selectExpr("sx", "nx",
      s"stack($bootR, $stackArgs) AS (rep, mean_m)")
    reps.groupBy(col("sx"), col("nx"))
      .agg(
        expr("percentile(mean_m, CAST(0.025 AS DOUBLE))").as("lo_m"),
        expr("percentile(mean_m, CAST(0.975 AS DOUBLE))").as("hi_m"),
        count(lit(1)).as("n_replicas"))
      .select(col("nx").as("n_rows"), col("n_replicas"),
        expr("CAST(CAST(sx AS DOUBLE) / nx / 1000.0 AS FLOAT)").as("point_mean"),
        expr("CAST(lo_m / 1000.0 AS FLOAT)").as("ci_lo"),
        expr("CAST(hi_m / 1000.0 AS FLOAT)").as("ci_hi"))
  }
  private val m25Sql = {
    val aggs = (0 until bootR).map { r =>
      s"SUM(${bootW(r)} * xm) AS s$r, SUM(${bootW(r)}) AS n$r"
    }.mkString(", ")
    val stackRows = (0 until bootR)
      .map(r => s"SELECT CAST(s$r AS DOUBLE) / n$r AS mean_m FROM wide")
      .mkString(" UNION ALL ")
    s"""WITH o AS (
       | SELECT o_orderkey,
       |  CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT) AS xm
       | FROM orders),
       |wide AS (
       | SELECT $aggs, SUM(xm) AS sx, COUNT(*) AS nx FROM o),
       |reps AS ($stackRows)
       |SELECT CAST(wide.nx AS BIGINT) AS n_rows,
       | CAST($bootR AS BIGINT) AS n_replicas,
       | CAST(CAST(wide.sx AS DOUBLE) / wide.nx / 1000.0 AS REAL) AS point_mean,
       | CAST((SELECT quantile_cont(mean_m, CAST(0.025 AS DOUBLE)) FROM reps)
       |      / 1000.0 AS REAL) AS ci_lo,
       | CAST((SELECT quantile_cont(mean_m, CAST(0.975 AS DOUBLE)) FROM reps)
       |      / 1000.0 AS REAL) AS ci_hi
       |FROM wide""".stripMargin
  }

  // ---- m26: CUPED variance-reduced A/B test --------------------------------
  // The experimentation-platform standard (Deng et al. 2013, "Improving
  // the Sensitivity of Online Controlled Experiments" — CUPED): adjust
  // each user's experiment-period metric Y by their PRE-period metric X,
  //   Y_cuped = Y - theta (X - mean X),  theta = cov(X,Y) / var(X),
  // which removes the between-user variance X explains and shrinks the
  // A/B standard error at identical validity (theta is fitted POOLED,
  // so it cannot bias the treatment contrast). Here: X = a user's total
  // event value in the first half of the corpus window, Y = in the
  // second half, arms assigned by user_id parity.
  //
  // Cross-engine float discipline: X/Y milli-quantize at the per-user
  // reduction (exact longs); means come from exact sums; the centered
  // moment products and the per-user adjusted metric are one
  // double-expression each over identical inputs, milli-quantized
  // BEFORE their arm-level folds — no float ever accumulates across
  // rows. z-statistics are computed once from the exact arm sums and
  // cast to float32.
  //
  // Scale: the corpus window is a broadcast 1-row aggregate; the
  // per-user reduction is the one real shuffle (user-keyed, map-side
  // combined); the checkpointed 1-row-per-user table then feeds three
  // tiny folds (global moments, theta, per-arm stats) — each a
  // full-combine aggregate, never a window. 100 TB cost = one scan +
  // one user shuffle, like u02/u23.
  private def m26(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    // microsecond resolution throughout (the j10 discipline): the oracle
    // sees timestamps at us precision, so comparing at raw ns would
    // diverge if nanos-typed data ships again
    val bounds = ev.agg(min(expr("ts div 1000")).as("t0"),
      max(expr("ts div 1000")).as("t1"))
    val perUser = ev.crossJoin(broadcast(bounds))
      .withColumn("vm", expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)"))
      .groupBy(col("user_id"))
      .agg(
        org.apache.spark.sql.functions.sum(
          when(expr("ts div 1000 < (t0 + t1) div 2"), col("vm"))
            .otherwise(lit(0L))).as("xm"),
        org.apache.spark.sql.functions.sum(
          when(expr("ts div 1000 >= (t0 + t1) div 2"), col("vm"))
            .otherwise(lit(0L))).as("ym"))
      .withColumn("arm", expr("CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END"))
      .localCheckpoint() // feeds means, theta, and the arm folds
    val means = perUser.agg(count(lit(1)).as("n_all"),
      org.apache.spark.sql.functions.sum(col("xm")).as("sx"),
      org.apache.spark.sql.functions.sum(col("ym")).as("sy"))
    // centered products in value^2 units, milli-quantized per user
    val mom = perUser.crossJoin(broadcast(means))
      .select(
        expr("""CAST(floor((xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_all)
               | * (ym / 1000.0 - CAST(sy AS DOUBLE) / 1000.0 / n_all)
               | * 1000 + 0.5) AS BIGINT)""".stripMargin).as("cxy_q"),
        expr("""CAST(floor((xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_all)
               | * (xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_all)
               | * 1000 + 0.5) AS BIGINT)""".stripMargin).as("cxx_q"))
      .agg(org.apache.spark.sql.functions.sum(col("cxy_q")).as("sxy"),
        org.apache.spark.sql.functions.sum(col("cxx_q")).as("sxx"))
    val adj = perUser.crossJoin(broadcast(means)).crossJoin(broadcast(mom))
      .select(col("arm"), col("ym"),
        expr("""CAST(floor((ym / 1000.0
               | - (CAST(sxy AS DOUBLE) / sxx)
               |   * (xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_all))
               | * 1000 + 0.5) AS BIGINT)""".stripMargin).as("cm"))
    val arms = adj.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("ym")).as("sy"),
        org.apache.spark.sql.functions.sum(expr("ym * ym")).as("syy"),
        org.apache.spark.sql.functions.sum(col("cm")).as("sc"),
        org.apache.spark.sql.functions.sum(expr("cm * cm")).as("scc"))
    val a = arms.filter(col("arm") === "A").drop("arm")
      .select(col("n").as("n_a"), col("sy").as("sy_a"), col("syy").as("syy_a"),
        col("sc").as("sc_a"), col("scc").as("scc_a"))
    val b = arms.filter(col("arm") === "B").drop("arm")
      .select(col("n").as("n_b"), col("sy").as("sy_b"), col("syy").as("syy_b"),
        col("sc").as("sc_b"), col("scc").as("scc_b"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(mom))
      .select(col("n_a"), col("n_b"),
        expr("CAST(CAST(sxy AS DOUBLE) / sxx AS FLOAT)").as("theta"),
        expr("CAST(sy_a / 1000.0 / n_a AS FLOAT)").as("mean_y_a"),
        expr("CAST(sy_b / 1000.0 / n_b AS FLOAT)").as("mean_y_b"),
        expr("""CAST((sy_b / 1000.0 / n_b - sy_a / 1000.0 / n_a)
               | / sqrt(((syy_a / 1e6 - (sy_a / 1000.0) * (sy_a / 1000.0) / n_a)
               |          / (n_a - 1)) / n_a
               |       + ((syy_b / 1e6 - (sy_b / 1000.0) * (sy_b / 1000.0) / n_b)
               |          / (n_b - 1)) / n_b) AS FLOAT)""".stripMargin)
          .as("z_raw"),
        expr("""CAST((sc_b / 1000.0 / n_b - sc_a / 1000.0 / n_a)
               | / sqrt(((scc_a / 1e6 - (sc_a / 1000.0) * (sc_a / 1000.0) / n_a)
               |          / (n_a - 1)) / n_a
               |       + ((scc_b / 1e6 - (sc_b / 1000.0) * (sc_b / 1000.0) / n_b)
               |          / (n_b - 1)) / n_b) AS FLOAT)""".stripMargin)
          .as("z_cuped"),
        expr("""CAST(100.0 * (1.0
               | - ((scc_a / 1e6 - (sc_a / 1000.0) * (sc_a / 1000.0) / n_a)
               |    + (scc_b / 1e6 - (sc_b / 1000.0) * (sc_b / 1000.0) / n_b))
               |   / ((syy_a / 1e6 - (sy_a / 1000.0) * (sy_a / 1000.0) / n_a)
               |    + (syy_b / 1e6 - (sy_b / 1000.0) * (sy_b / 1000.0) / n_b)))
               |AS FLOAT)""".stripMargin).as("var_reduction_pct"))
  }
  private val m26Sql =
    """WITH bounds AS (
      | SELECT MIN(epoch_ns(ts) // 1000) AS t0,
      |  MAX(epoch_ns(ts) // 1000) AS t1 FROM events),
      |per_user AS (
      | SELECT user_id,
      |  CAST(SUM(CASE WHEN epoch_ns(ts) // 1000 < (t0 + t1) // 2
      |       THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)
      |       ELSE 0 END) AS BIGINT) AS xm,
      |  CAST(SUM(CASE WHEN epoch_ns(ts) // 1000 >= (t0 + t1) // 2
      |       THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)
      |       ELSE 0 END) AS BIGINT) AS ym,
      |  CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      | FROM events CROSS JOIN bounds GROUP BY user_id),
      |means AS (
      | SELECT COUNT(*) AS n_all, CAST(SUM(xm) AS BIGINT) AS sx,
      |  CAST(SUM(ym) AS BIGINT) AS sy
      | FROM per_user),
      |mom AS (
      | SELECT
      |  CAST(SUM(CAST(floor((xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_all)
      |   * (ym / 1000.0 - CAST(sy AS DOUBLE) / 1000.0 / n_all)
      |   * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sxy,
      |  CAST(SUM(CAST(floor((xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_all)
      |   * (xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_all)
      |   * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sxx
      | FROM per_user CROSS JOIN means),
      |adj AS (
      | SELECT arm, ym,
      |  CAST(floor((ym / 1000.0
      |   - (CAST(sxy AS DOUBLE) / sxx)
      |     * (xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_all))
      |   * 1000 + 0.5) AS BIGINT) AS cm
      | FROM per_user CROSS JOIN means CROSS JOIN mom),
      |arms AS (
      | SELECT arm, COUNT(*) AS n, CAST(SUM(ym) AS BIGINT) AS sy,
      |  CAST(SUM(ym * ym) AS BIGINT) AS syy,
      |  CAST(SUM(cm) AS BIGINT) AS sc, CAST(SUM(cm * cm) AS BIGINT) AS scc
      | FROM adj GROUP BY arm),
      |aa AS (SELECT n AS n_a, sy AS sy_a, syy AS syy_a, sc AS sc_a,
      |        scc AS scc_a FROM arms WHERE arm = 'A'),
      |bb AS (SELECT n AS n_b, sy AS sy_b, syy AS syy_b, sc AS sc_b,
      |        scc AS scc_b FROM arms WHERE arm = 'B')
      |SELECT n_a, n_b,
      | CAST(CAST(sxy AS DOUBLE) / sxx AS REAL) AS theta,
      | CAST(sy_a / 1000.0 / n_a AS REAL) AS mean_y_a,
      | CAST(sy_b / 1000.0 / n_b AS REAL) AS mean_y_b,
      | CAST((sy_b / 1000.0 / n_b - sy_a / 1000.0 / n_a)
      |  / sqrt(((syy_a / 1e6 - (sy_a / 1000.0) * (sy_a / 1000.0) / n_a)
      |           / (n_a - 1)) / n_a
      |        + ((syy_b / 1e6 - (sy_b / 1000.0) * (sy_b / 1000.0) / n_b)
      |           / (n_b - 1)) / n_b) AS REAL) AS z_raw,
      | CAST((sc_b / 1000.0 / n_b - sc_a / 1000.0 / n_a)
      |  / sqrt(((scc_a / 1e6 - (sc_a / 1000.0) * (sc_a / 1000.0) / n_a)
      |           / (n_a - 1)) / n_a
      |        + ((scc_b / 1e6 - (sc_b / 1000.0) * (sc_b / 1000.0) / n_b)
      |           / (n_b - 1)) / n_b) AS REAL) AS z_cuped,
      | CAST(100.0 * (1.0
      |  - ((scc_a / 1e6 - (sc_a / 1000.0) * (sc_a / 1000.0) / n_a)
      |     + (scc_b / 1e6 - (sc_b / 1000.0) * (sc_b / 1000.0) / n_b))
      |    / ((syy_a / 1e6 - (sy_a / 1000.0) * (sy_a / 1000.0) / n_a)
      |     + (syy_b / 1e6 - (sy_b / 1000.0) * (sy_b / 1000.0) / n_b)))
      | AS REAL) AS var_reduction_pct
      |FROM aa CROSS JOIN bb CROSS JOIN mom""".stripMargin

  // ---- m27: mSPRT always-valid sequential A/B monitoring -------------------
  // The fix for the peeking problem (Johari, Koomen, Pekelis & Walsh
  // 2017, "Peeking at A/B Tests" — the mixture SPRT behind
  // Optimizely's Stats Engine): a dashboard someone checks daily needs
  // a p-value that stays valid under CONTINUOUS monitoring. For the
  // two-sample normal z-process with estimated variance,
  //   Lambda_n = sqrt(V/(V+tau^2)) * exp(theta^2/(2V) * tau^2/(V+tau^2)),
  //   p_n = running_min(1 / Lambda_n)            (always-valid p),
  // where theta = meanB - meanA, V = s2_pooled (1/nA + 1/nB), and
  // tau^2 is the fixed mixture prior (metric-scale constant, 100
  // value^2 here). The running min is what makes "ship when p < .05
  // whenever you look" a valid rule.
  //
  // Relational shape: ONE corpus scan to per-day conditional moment
  // sums (exact milli/micro longs, map-side combined), day-cumulative
  // windows over the day-bounded aggregate (a14 form), the Lambda/p
  // expression evaluated once per day from exact longs (identical
  // IEEE doubles on both engines), p micro-quantized BEFORE the
  // running min. At 100 TB the daily table is ~days rows — constant.
  private val msprtTau2 = 100.0
  private val nsPerDay = 86400000000000L
  private def m27(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val daily = ev
      .withColumn("vm", expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)"))
      .withColumn("a", expr("CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END"))
      .groupBy(expr(s"ts div $nsPerDay").as("day"))
      .agg(
        org.apache.spark.sql.functions.sum(col("a")).as("na_d"),
        org.apache.spark.sql.functions.sum(expr("a * vm")).as("sa_d"),
        org.apache.spark.sql.functions.sum(expr("a * vm * vm")).as("ssa_d"),
        org.apache.spark.sql.functions.sum(expr("1 - a")).as("nb_d"),
        org.apache.spark.sql.functions.sum(expr("(1 - a) * vm")).as("sb_d"),
        org.apache.spark.sql.functions.sum(expr("(1 - a) * vm * vm")).as("ssb_d"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("n_a", org.apache.spark.sql.functions.sum(col("na_d")).over(wCum))
      .withColumn("s_a", org.apache.spark.sql.functions.sum(col("sa_d")).over(wCum))
      .withColumn("ss_a", org.apache.spark.sql.functions.sum(col("ssa_d")).over(wCum))
      .withColumn("n_b", org.apache.spark.sql.functions.sum(col("nb_d")).over(wCum))
      .withColumn("s_b", org.apache.spark.sql.functions.sum(col("sb_d")).over(wCum))
      .withColumn("ss_b", org.apache.spark.sql.functions.sum(col("ssb_d")).over(wCum))
      .filter(col("n_a") >= 2 && col("n_b") >= 2)
    val mid = cum.select(col("day"), col("n_a"), col("n_b"),
      expr("s_b / 1000.0 / n_b - s_a / 1000.0 / n_a").as("th"),
      expr("""(((ss_a / 1e6 - (s_a / 1000.0) * (s_a / 1000.0) / n_a)
              |  + (ss_b / 1e6 - (s_b / 1000.0) * (s_b / 1000.0) / n_b))
              | / (n_a + n_b - 2)) * (1.0 / n_a + 1.0 / n_b)""".stripMargin)
        .as("vv"))
    val stat = mid.select(col("day"), col("n_a"), col("n_b"),
      expr(s"""CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
              | 1.0 / (sqrt(vv / (vv + $msprtTau2))
              |        * exp(th * th / (2 * vv)
              |              * $msprtTau2 / (vv + $msprtTau2))))
              | * 1e6 + 0.5) AS BIGINT)""".stripMargin).as("p_micro_day"),
      expr("CAST(th AS FLOAT)").as("mean_diff"))
    val wMin = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stat
      .withColumn("p_micro", min(col("p_micro_day")).over(wMin))
      .select(col("day"), col("n_a"), col("n_b"), col("mean_diff"),
        expr("CAST(p_micro / 1e6 AS FLOAT)").as("p_always_valid"),
        expr("CAST(CASE WHEN p_micro < 50000 THEN 1 ELSE 0 END AS INT)")
          .as("significant"))
      .orderBy(col("day"))
  }
  // th / vv are shared sub-expressions: spell them once via a LATERAL-
  // style select so Spark and DuckDB evaluate byte-identical formulas
  private def m27Mid(selectFrom: String): String =
    s"""SELECT day, n_a, n_b,
       | (s_b / 1000.0 / n_b - s_a / 1000.0 / n_a) AS th,
       | (((ss_a / 1e6 - (s_a / 1000.0) * (s_a / 1000.0) / n_a)
       |   + (ss_b / 1e6 - (s_b / 1000.0) * (s_b / 1000.0) / n_b))
       |  / (n_a + n_b - 2)) * (1.0 / n_a + 1.0 / n_b) AS vv
       |FROM $selectFrom WHERE n_a >= 2 AND n_b >= 2""".stripMargin
  private val m27Sql =
    s"""WITH daily AS (
       | SELECT epoch_ns(ts) // $nsPerDay AS day,
       |  CAST(SUM(CASE WHEN user_id % 2 = 0
       |       THEN CAST(floor(value * 1000 + 0.5) AS BIGINT) ELSE 0 END)
       |   AS BIGINT) AS sa_d,
       |  CAST(SUM(CASE WHEN user_id % 2 = 0
       |       THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)
       |            * CAST(floor(value * 1000 + 0.5) AS BIGINT)
       |       ELSE 0 END) AS BIGINT) AS ssa_d,
       |  CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS na_d,
       |  CAST(SUM(CASE WHEN user_id % 2 <> 0
       |       THEN CAST(floor(value * 1000 + 0.5) AS BIGINT) ELSE 0 END)
       |   AS BIGINT) AS sb_d,
       |  CAST(SUM(CASE WHEN user_id % 2 <> 0
       |       THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)
       |            * CAST(floor(value * 1000 + 0.5) AS BIGINT)
       |       ELSE 0 END) AS BIGINT) AS ssb_d,
       |  CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS nb_d
       | FROM events GROUP BY 1),
       |cum AS (
       | SELECT day,
       |  CAST(SUM(na_d) OVER wc AS BIGINT) AS n_a,
       |  CAST(SUM(sa_d) OVER wc AS BIGINT) AS s_a,
       |  CAST(SUM(ssa_d) OVER wc AS BIGINT) AS ss_a,
       |  CAST(SUM(nb_d) OVER wc AS BIGINT) AS n_b,
       |  CAST(SUM(sb_d) OVER wc AS BIGINT) AS s_b,
       |  CAST(SUM(ssb_d) OVER wc AS BIGINT) AS ss_b
       | FROM daily
       | WINDOW wc AS (ORDER BY day
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |mid AS (${m27Mid("cum")}),
       |stat AS (
       | SELECT day, n_a, n_b,
       |  CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
       |   1.0 / (sqrt(vv / (vv + $msprtTau2))
       |          * exp(th * th / (2 * vv)
       |                * $msprtTau2 / (vv + $msprtTau2))))
       |   * 1e6 + 0.5) AS BIGINT) AS p_micro_day,
       |  CAST(th AS REAL) AS mean_diff
       | FROM mid)
       |SELECT day, n_a, n_b, mean_diff,
       | CAST(MIN(p_micro_day) OVER wm / 1e6 AS REAL) AS p_always_valid,
       | CAST(CASE WHEN MIN(p_micro_day) OVER wm < 50000 THEN 1 ELSE 0 END
       |      AS INTEGER) AS significant
       |FROM stat
       |WINDOW wm AS (ORDER BY day
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY day""".stripMargin

  // ---- m28: split-conformal prediction intervals ---------------------------
  // Distribution-free uncertainty for ANY point predictor (Vovk et al.
  // 2005; Lei et al. 2018 split-conformal form): train on folds 0-1,
  // take the 90th-percentile absolute residual q on the CALIBRATION
  // fold 2, and the interval yhat +/- q then covers >= 90% of unseen
  // data with no distributional assumptions. This query runs the whole
  // pipeline and AUDITS it: empirical coverage on the held-out fold 3,
  // per l_returnflag. (q is the exact interpolated percentile — the
  // a18-proven cross-engine form; at calibration sizes the +/-1/n
  // conformal rank slack is inside the interpolation.)
  //
  // Determinism: the OLS fit uses m26's two-pass centered-moment form
  // (exact milli longs -> identical doubles), residuals micro-quantize
  // per row BEFORE the percentile and the coverage comparison runs in
  // exact micro-long space. Scale: three broadcast 1-row stages
  // (means, moments, q) over one checkpointed scan projection; the
  // only shuffles are full-combine aggregates.
  private def m28(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
      .select(col("l_returnflag"), expr("l_orderkey % 4").as("fold"),
        expr("CAST(floor(l_quantity * 1000 + 0.5) AS BIGINT)").as("xm"),
        expr("CAST(floor(l_extendedprice * 1000 + 0.5) AS BIGINT)").as("ym"))
      .localCheckpoint() // feeds train means/moments, calibration, audit
    val tr = li.filter(col("fold") <= 1)
    val means = tr.agg(count(lit(1)).as("n_tr"),
      org.apache.spark.sql.functions.sum(col("xm")).as("sx"),
      org.apache.spark.sql.functions.sum(col("ym")).as("sy"))
    val mom = tr.crossJoin(broadcast(means))
      .select(
        expr("""CAST(floor((xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_tr)
               | * (ym / 1000.0 - CAST(sy AS DOUBLE) / 1000.0 / n_tr)
               | * 1000 + 0.5) AS BIGINT)""".stripMargin).as("cxy_q"),
        expr("""CAST(floor((xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_tr)
               | * (xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_tr)
               | * 1000 + 0.5) AS BIGINT)""".stripMargin).as("cxx_q"))
      .agg(org.apache.spark.sql.functions.sum(col("cxy_q")).as("sxy"),
        org.apache.spark.sql.functions.sum(col("cxx_q")).as("sxx"))
    // residual in micro value units, one shared spelling
    val resExpr =
      """CAST(floor(abs(ym / 1000.0
        | - ((CAST(sy AS DOUBLE) / 1000.0 / n_tr)
        |    + (CAST(sxy AS DOUBLE) / sxx)
        |      * (xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_tr)))
        | * 1e6 + 0.5) AS BIGINT)""".stripMargin
    val withRes = li.crossJoin(broadcast(means)).crossJoin(broadcast(mom))
      .withColumn("res_micro", expr(resExpr))
    val q = withRes.filter(col("fold") === 2)
      .agg(expr("CAST(floor(percentile(res_micro, CAST(0.9 AS DOUBLE)) + 0.5) AS BIGINT)")
        .as("q_micro"))
    withRes.filter(col("fold") === 3).crossJoin(broadcast(q))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_test"),
        org.apache.spark.sql.functions.sum(
          when(col("res_micro") <= col("q_micro"), 1L).otherwise(0L))
          .as("n_covered"),
        max(col("q_micro")).as("q_micro"))
      .select(col("l_returnflag"), col("n_test"), col("n_covered"),
        expr("CAST(CAST(n_covered AS DOUBLE) / n_test AS FLOAT)")
          .as("coverage"),
        expr("CAST(q_micro / 1e6 AS FLOAT)").as("half_width"))
      .orderBy(col("l_returnflag"))
  }
  private val m28Sql =
    """WITH li AS (
      | SELECT l_returnflag, l_orderkey % 4 AS fold,
      |  CAST(floor(l_quantity * 1000 + 0.5) AS BIGINT) AS xm,
      |  CAST(floor(l_extendedprice * 1000 + 0.5) AS BIGINT) AS ym
      | FROM lineitem),
      |means AS (
      | SELECT COUNT(*) AS n_tr, CAST(SUM(xm) AS BIGINT) AS sx,
      |  CAST(SUM(ym) AS BIGINT) AS sy
      | FROM li WHERE fold <= 1),
      |mom AS (
      | SELECT
      |  CAST(SUM(CAST(floor((xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_tr)
      |   * (ym / 1000.0 - CAST(sy AS DOUBLE) / 1000.0 / n_tr)
      |   * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sxy,
      |  CAST(SUM(CAST(floor((xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_tr)
      |   * (xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_tr)
      |   * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sxx
      | FROM li CROSS JOIN means WHERE fold <= 1),
      |res AS (
      | SELECT l_returnflag, fold,
      |  CAST(floor(abs(ym / 1000.0
      |   - ((CAST(sy AS DOUBLE) / 1000.0 / n_tr)
      |      + (CAST(sxy AS DOUBLE) / sxx)
      |        * (xm / 1000.0 - CAST(sx AS DOUBLE) / 1000.0 / n_tr)))
      |   * 1e6 + 0.5) AS BIGINT) AS res_micro
      | FROM li CROSS JOIN means CROSS JOIN mom),
      |q AS (
      | SELECT CAST(floor(quantile_cont(res_micro, CAST(0.9 AS DOUBLE)) + 0.5)
      |        AS BIGINT) AS q_micro
      | FROM res WHERE fold = 2)
      |SELECT l_returnflag, COUNT(*) AS n_test,
      | CAST(SUM(CASE WHEN res_micro <= q_micro THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_covered,
      | CAST(CAST(SUM(CASE WHEN res_micro <= q_micro THEN 1 ELSE 0 END)
      |      AS DOUBLE) / COUNT(*) AS REAL) AS coverage,
      | CAST(MAX(q_micro) / 1e6 AS REAL) AS half_width
      |FROM res CROSS JOIN q WHERE fold = 3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- m29: second-order boosting round (XGBoost step) ---------------------
  // One Newton boosting round (Chen & Guestrin 2016 eq. 5-6) on a
  // FIXED tree structure — the training-side twin of m04's inference:
  // with current margin s0 (a literal linear base model) and label
  // y = purchase, each leaf gets w* = -G / (H + lambda) from its
  // gradient/hessian sums (g = p - y, h = p(1-p)), margins update
  // s1 = s0 + eta * w(leaf), and the corpus logloss must not increase
  // (Newton step on a convex objective with small eta). Output: the
  // 4-leaf update table plus before/after logloss — the quantities an
  // actual distributed trainer materializes per round.
  //
  // Determinism: g, h, and the per-row loglosses micro-quantize BEFORE
  // their sums (identical sigmoid/ln inputs on both engines; t22's
  // ln-quantization form). Scale: two passes over the checkpointed
  // (leaf, s0, y) projection — the leaf stats groupBy (4 rows) and the
  // loss fold — with the leaf-weight table re-entering as a broadcast.
  // One scan + one 4-group shuffle per boosting round, the exact shape
  // of a distributed GBDT round.
  private val boostLambda = 1.0
  private val boostEta = 0.3
  private def m29(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val base = ev.select(
        expr("CASE WHEN event_type = 'purchase' THEN 1L ELSE 0L END").as("y"),
        expr("0.01 * value - 1.0").as("s0"),
        expr("""CASE WHEN value < 25.0 THEN CASE WHEN user_id % 2 = 0
               | THEN 0 ELSE 1 END
               | ELSE CASE WHEN user_id % 2 = 0 THEN 2 ELSE 3 END
               |END""".stripMargin).as("leaf"))
      .withColumn("p", expr("1.0 / (1.0 + exp(-s0))"))
      .withColumn("gq", expr("CAST(floor((p - y) * 1e6 + 0.5) AS BIGINT)"))
      .withColumn("hq", expr("CAST(floor(p * (1.0 - p) * 1e6 + 0.5) AS BIGINT)"))
      .withColumn("l0q", expr(
        "CAST(floor((ln(1.0 + exp(s0)) - y * s0) * 1e6 + 0.5) AS BIGINT)"))
      .localCheckpoint() // leaf stats + both loss folds
    val leaves = base.groupBy(col("leaf"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("gq")).as("gsum"),
        org.apache.spark.sql.functions.sum(col("hq")).as("hsum"))
      .withColumn("w", expr(
        s"-(CAST(gsum AS DOUBLE) / 1e6) / (CAST(hsum AS DOUBLE) / 1e6 + $boostLambda)"))
    val loss0 = base.agg(
      org.apache.spark.sql.functions.sum(col("l0q")).as("l0sum"),
      count(lit(1)).as("n_all"))
    val loss1 = base.join(broadcast(leaves.select(col("leaf"), col("w"))), "leaf")
      .select(expr(
        s"""CAST(floor((ln(1.0 + exp(s0 + $boostEta * w))
           | - y * (s0 + $boostEta * w)) * 1e6 + 0.5) AS BIGINT)""".stripMargin)
        .as("l1q"))
      .agg(org.apache.spark.sql.functions.sum(col("l1q")).as("l1sum"))
    leaves.crossJoin(broadcast(loss0)).crossJoin(broadcast(loss1))
      .select(col("leaf"), col("n"), col("gsum"), col("hsum"),
        expr("CAST(w AS FLOAT)").as("leaf_weight"),
        expr("CAST(CAST(l0sum AS DOUBLE) / 1e6 / n_all AS FLOAT)")
          .as("logloss_before"),
        expr("CAST(CAST(l1sum AS DOUBLE) / 1e6 / n_all AS FLOAT)")
          .as("logloss_after"))
      .orderBy(col("leaf"))
  }
  private val m29Sql =
    s"""WITH base AS (
       | SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
       |  0.01 * value - 1.0 AS s0,
       |  CASE WHEN value < 25.0 THEN CASE WHEN user_id % 2 = 0
       |   THEN 0 ELSE 1 END
       |   ELSE CASE WHEN user_id % 2 = 0 THEN 2 ELSE 3 END
       |  END AS leaf
       | FROM events),
       |gh AS (
       | SELECT y, s0, leaf, 1.0 / (1.0 + exp(-s0)) AS p FROM base),
       |q AS (
       | SELECT leaf, y, s0,
       |  CAST(floor((p - y) * 1e6 + 0.5) AS BIGINT) AS gq,
       |  CAST(floor(p * (1.0 - p) * 1e6 + 0.5) AS BIGINT) AS hq,
       |  CAST(floor((ln(1.0 + exp(s0)) - y * s0) * 1e6 + 0.5) AS BIGINT) AS l0q
       | FROM gh),
       |leaves AS (
       | SELECT leaf, COUNT(*) AS n, CAST(SUM(gq) AS BIGINT) AS gsum,
       |  CAST(SUM(hq) AS BIGINT) AS hsum,
       |  -(CAST(CAST(SUM(gq) AS BIGINT) AS DOUBLE) / 1e6)
       |   / (CAST(CAST(SUM(hq) AS BIGINT) AS DOUBLE) / 1e6 + $boostLambda) AS w
       | FROM q GROUP BY leaf),
       |loss0 AS (
       | SELECT CAST(SUM(l0q) AS BIGINT) AS l0sum, COUNT(*) AS n_all FROM q),
       |loss1 AS (
       | SELECT CAST(SUM(CAST(floor((ln(1.0 + exp(q.s0 + $boostEta * le.w))
       |  - q.y * (q.s0 + $boostEta * le.w)) * 1e6 + 0.5) AS BIGINT))
       |  AS BIGINT) AS l1sum
       | FROM q JOIN leaves le USING (leaf))
       |SELECT leaf, n, gsum, hsum,
       | CAST(w AS REAL) AS leaf_weight,
       | CAST(CAST(l0sum AS DOUBLE) / 1e6 / n_all AS REAL) AS logloss_before,
       | CAST(CAST(l1sum AS DOUBLE) / 1e6 / n_all AS REAL) AS logloss_after
       |FROM leaves CROSS JOIN loss0 CROSS JOIN loss1
       |ORDER BY leaf""".stripMargin

  // ---- m30: 3-round GBDT training loop -------------------------------------
  // m29 is one Newton round; this is the TRAINER LOOP — three boosting
  // rounds with a different fixed tree structure per round, margins
  // threaded through, and the loss trajectory as the output. Per round:
  // leaf G/H sums (micro-quantized gradients), w* = -G/(H+lambda), a
  // 4-row broadcast join updates every margin, and the corpus logloss
  // is recorded. The defining invariant (round loss non-increasing on
  // a convex objective) is what the spec pins. At 100 TB each round is
  // exactly one map-side-combined 4-group aggregate + one broadcast
  // join over the running margin column — the canonical distributed
  // GBDT round; 3 rounds = 3 such passes over the checkpointed base.
  private val gbdtRounds = 3
  // per-round (threshold on value, second split), mirrored in the oracle
  private def m30LeafSql(r: Int): String = r match {
    case 1 => """CASE WHEN value < 25.0 THEN CASE WHEN user_id % 2 = 0
                | THEN 0 ELSE 1 END
                | ELSE CASE WHEN user_id % 2 = 0 THEN 2 ELSE 3 END END""".stripMargin
    case 2 => """CASE WHEN value < 50.0 THEN CASE WHEN event_type = 'click'
                | THEN 0 ELSE 1 END
                | ELSE CASE WHEN event_type = 'click' THEN 2 ELSE 3 END END""".stripMargin
    case _ => """CASE WHEN value < 12.5 THEN CASE WHEN user_id % 3 = 0
                | THEN 0 ELSE 1 END
                | ELSE CASE WHEN user_id % 3 = 0 THEN 2 ELSE 3 END END""".stripMargin
  }
  private def m30(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    var df = ev.select(
        expr("CASE WHEN event_type = 'purchase' THEN 1L ELSE 0L END").as("y"),
        col("value"), col("user_id"), col("event_type"),
        expr("0.01 * value - 1.0").as("s"))
      .localCheckpoint()
    def lossOf(d: DataFrame): DataFrame = d.agg(
      org.apache.spark.sql.functions.sum(expr(
        "CAST(floor((ln(1.0 + exp(s)) - y * s) * 1e6 + 0.5) AS BIGINT)"))
        .as("lsum"),
      count(lit(1)).as("n_all"))
    var losses = lossOf(df).select(lit(0).as("round"), col("lsum"), col("n_all"))
    for (r <- 1 to gbdtRounds) {
      val withLeaf = df.withColumn("leaf", expr(m30LeafSql(r)))
        .withColumn("p", expr("1.0 / (1.0 + exp(-s))"))
      val leaves = withLeaf
        .withColumn("gq", expr("CAST(floor((p - y) * 1e6 + 0.5) AS BIGINT)"))
        .withColumn("hq", expr("CAST(floor(p * (1.0 - p) * 1e6 + 0.5) AS BIGINT)"))
        .groupBy(col("leaf"))
        .agg(org.apache.spark.sql.functions.sum(col("gq")).as("gsum"),
          org.apache.spark.sql.functions.sum(col("hq")).as("hsum"))
        .withColumn("w", expr(
          s"-(CAST(gsum AS DOUBLE) / 1e6) / (CAST(hsum AS DOUBLE) / 1e6 + $boostLambda)"))
      df = withLeaf.join(broadcast(leaves.select(col("leaf"), col("w"))), "leaf")
        .select(col("y"), col("value"), col("user_id"), col("event_type"),
          expr(s"s + $boostEta * w").as("s"))
        .localCheckpoint()
      losses = losses.union(
        lossOf(df).select(lit(r).as("round"), col("lsum"), col("n_all")))
    }
    losses.select(col("round"),
        expr("CAST(CAST(lsum AS DOUBLE) / 1e6 / n_all AS FLOAT)").as("logloss"))
      .orderBy(col("round"))
  }
  private val m30Sql = {
    def round(r: Int) =
      s"""g$r AS (
         | SELECT *, 1.0 / (1.0 + exp(-s)) AS p,
         |  ${m30LeafSql(r)} AS leaf
         | FROM b${r - 1}),
         |l$r AS (
         | SELECT leaf,
         |  -(CAST(CAST(SUM(CAST(floor((p - y) * 1e6 + 0.5) AS BIGINT))
         |      AS BIGINT) AS DOUBLE) / 1e6)
         |  / (CAST(CAST(SUM(CAST(floor(p * (1.0 - p) * 1e6 + 0.5) AS BIGINT))
         |      AS BIGINT) AS DOUBLE) / 1e6 + $boostLambda) AS w
         | FROM g$r GROUP BY leaf),
         |b$r AS (
         | SELECT g$r.y, g$r.value, g$r.user_id, g$r.event_type,
         |  g$r.s + $boostEta * l$r.w AS s
         | FROM g$r JOIN l$r USING (leaf))"""
    val lossRows = (0 to gbdtRounds).map { r =>
      s"""SELECT $r AS round,
         | CAST(CAST(SUM(CAST(floor((ln(1.0 + exp(s)) - y * s) * 1e6 + 0.5)
         |  AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*) AS ll
         |FROM b$r"""
    }.mkString(" UNION ALL ")
    s"""WITH b0 AS (
       | SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
       |  value, user_id, event_type, 0.01 * value - 1.0 AS s
       | FROM events),
       |${(1 to gbdtRounds).map(round).mkString(",\n")}
       |SELECT round, CAST(ll AS REAL) AS logloss
       |FROM ($lossRows) ORDER BY round""".stripMargin
  }

  // ---- m31: Mann-Whitney U rank-sum test -----------------------------------
  // The nonparametric two-sample test (Mann & Whitney 1947) m08's KS
  // complements: does the purchase-value distribution stochastically
  // dominate the click-value distribution? Computed WITHOUT ranking
  // rows: collapse both samples to the value-count table (bounded by
  // the VALUE DOMAIN, the k10 discipline), then
  //   2U = sum_v cA(v) * (2 * cumB(<v) + cB(v))
  // from one cumulative window over the domain-bounded table — exact
  // integers end-to-end. The normal approximation uses the exact
  // tie-corrected variance (Lehmann): var = nA nB / 12 * ((N+1)
  // - sum(t^3 - t) / (N (N-1))); only the final z is a double, cast
  // float32. At 100 TB: one scan, one domain-bounded window. Never a
  // corpus-wide rank.
  private def m31(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val vc = ev.filter(col("event_type").isin("purchase", "click"))
      .select(expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"),
        expr("CASE WHEN event_type = 'purchase' THEN 1L ELSE 0L END").as("isA"))
      .groupBy(col("vm"))
      .agg(org.apache.spark.sql.functions.sum(col("isA")).as("ca"),
        org.apache.spark.sql.functions.sum(expr("1 - isA")).as("cb"))
    val wCum = Window.orderBy(col("vm"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = vc
      .withColumn("cum_b",
        coalesce(org.apache.spark.sql.functions.sum(col("cb")).over(wCum),
          lit(0L)))
    terms.agg(
        org.apache.spark.sql.functions.sum(col("ca")).as("n_a"),
        org.apache.spark.sql.functions.sum(col("cb")).as("n_b"),
        org.apache.spark.sql.functions.sum(
          expr("ca * (2 * cum_b + cb)")).as("two_u"),
        org.apache.spark.sql.functions.sum(
          expr("(ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)"))
          .as("tie_sum"))
      .select(col("n_a"), col("n_b"), col("two_u"),
        expr("""CAST((two_u / 2.0 - CAST(n_a AS DOUBLE) * n_b / 2.0)
               | / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
               |   * ((n_a + n_b + 1)
               |      - CAST(tie_sum AS DOUBLE)
               |        / ((n_a + n_b) * (n_a + n_b - 1.0))))
               |AS FLOAT)""".stripMargin).as("z_stat"))
  }
  private val m31Sql =
    """WITH vc AS (
      | SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |   AS BIGINT) AS ca,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |   AS BIGINT) AS cb
      | FROM events WHERE event_type IN ('purchase', 'click')
      | GROUP BY 1),
      |terms AS (
      | SELECT *, CAST(COALESCE(SUM(cb) OVER (ORDER BY vm
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |  AS cum_b
      | FROM vc)
      |SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
      | CAST(SUM(cb) AS BIGINT) AS n_b,
      | CAST(SUM(ca * (2 * cum_b + cb)) AS BIGINT) AS two_u,
      | CAST((CAST(SUM(ca * (2 * cum_b + cb)) AS BIGINT) / 2.0
      |   - CAST(CAST(SUM(ca) AS BIGINT) AS DOUBLE)
      |     * CAST(SUM(cb) AS BIGINT) / 2.0)
      |  / sqrt(CAST(CAST(SUM(ca) AS BIGINT) AS DOUBLE)
      |     * CAST(SUM(cb) AS BIGINT) / 12.0
      |   * ((CAST(SUM(ca) AS BIGINT) + CAST(SUM(cb) AS BIGINT) + 1)
      |      - CAST(CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
      |             AS BIGINT) AS DOUBLE)
      |        / ((CAST(SUM(ca) AS BIGINT) + CAST(SUM(cb) AS BIGINT))
      |           * (CAST(SUM(ca) AS BIGINT) + CAST(SUM(cb) AS BIGINT)
      |              - 1.0))))
      | AS REAL) AS z_stat
      |FROM terms""".stripMargin

  // ---- m32: data scaling-law learning curve --------------------------------
  // The scaling-laws harness (Hestness et al. 2017): fit the SAME
  // model family on nested training subsets of growing size, measure
  // each on ONE fixed held-out set, and fit ln(mse) ~ ln(n) for the
  // power-law decay exponent. The model must be CAPACITY-LIMITED for
  // the curve to mean anything — a first cut used a 2-parameter OLS
  // and produced a perfectly flat curve (2 params saturate at n~10^3;
  // alpha ~ -1e-4) — so the estimator is 512 category means
  // (l_partkey % 512), whose test error carries the classic
  // sigma^2 * (1 + K/n) excess: visibly decaying over the nested
  // subsets and linear in ln-ln space. Subsets are nested LCG buckets
  // (t36), so curves are monotone in data by construction.
  //
  // Scale: one scan to the 512-row per-category conditional-sum table
  // (8 subset columns wide), which re-enters as a broadcast; the test
  // pass folds exact long residual squares per subset in the same
  // scan shape. The ln-ln fit runs in micro-long space (t22) over the
  // 8-row curve.
  private val lcFs = 8
  private val lcK = 512
  private def m32(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val base = li.select(
        expr(s"l_partkey % $lcK").as("cat"),
        expr("CAST((l_orderkey * 2654435761) % 1000003 AS BIGINT) % 8")
          .as("b"),
        expr("CASE WHEN l_orderkey % 4 = 3 THEN 0L ELSE 1L END").as("tr"),
        expr("CAST(floor(l_extendedprice * 1000 + 0.5) AS BIGINT)").as("ym"))
      .localCheckpoint() // the category table and the test pass share it
    def inF(f: Int) = s"(tr = 1 AND b < $f)"
    val catExprs = (1 to lcFs).flatMap { f =>
      Seq(expr(s"SUM(CASE WHEN ${inF(f)} THEN 1L ELSE 0L END)").as(s"c$f"),
        expr(s"SUM(CASE WHEN ${inF(f)} THEN ym ELSE 0L END)").as(s"s$f"))
    }
    val cats = base.groupBy(col("cat")).agg(catExprs.head, catExprs.tail: _*)
    val globExprs =
      Seq(expr("SUM(CASE WHEN tr = 0 THEN 1L ELSE 0L END)").as("n_t")) ++
        (1 to lcFs).flatMap { f =>
          Seq(expr(s"SUM(CASE WHEN ${inF(f)} THEN 1L ELSE 0L END)").as(s"n$f"),
            expr(s"SUM(CASE WHEN ${inF(f)} THEN ym ELSE 0L END)").as(s"g$f"))
        }
    val glob = base.agg(globExprs.head, globExprs.tail: _*)
    val sseExprs = (1 to lcFs).map { f =>
      val mean = s"""CASE WHEN c$f > 0 THEN CAST(s$f AS DOUBLE) / 1000.0 / c$f
                    | ELSE CAST(g$f AS DOUBLE) / 1000.0 / n$f END""".stripMargin
      expr(s"""SUM(CASE WHEN tr = 0
              | THEN CAST(floor((ym / 1000.0 - ($mean))
              |   * (ym / 1000.0 - ($mean)) + 0.5) AS BIGINT)
              | ELSE 0L END)""".stripMargin).as(s"sse$f")
    }
    val sse = base.join(broadcast(cats), Seq("cat")).crossJoin(broadcast(glob))
      .agg(sseExprs.head, sseExprs.tail: _*)
    val stackArgs = (1 to lcFs)
      .map(f => s"$f, n$f, CAST(sse$f AS DOUBLE) / n_t").mkString(", ")
    val curve = glob.crossJoin(broadcast(sse))
      .selectExpr(s"stack($lcFs, $stackArgs) AS (f, n_train, mse)")
      .select(col("f"), col("n_train"), col("mse"),
        expr("CAST(floor(ln(CAST(n_train AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)")
          .as("lxq"),
        expr("CAST(floor(ln(mse) * 1e6 + 0.5) AS BIGINT)").as("lyq"))
    val fit = curve.agg(count(lit(1)).as("k"),
      org.apache.spark.sql.functions.sum(col("lxq")).as("slx"),
      org.apache.spark.sql.functions.sum(col("lyq")).as("sly"),
      org.apache.spark.sql.functions.sum(expr("lxq * lyq")).as("slxy"),
      org.apache.spark.sql.functions.sum(expr("lxq * lxq")).as("slxx"))
      .select(expr("""(CAST(k * slxy - slx * sly AS DOUBLE))
                     | / (CAST(k * slxx - slx * slx AS DOUBLE))"""
        .stripMargin).as("alpha"))
    curve.crossJoin(broadcast(fit))
      .select(col("f"), col("n_train"),
        expr("CAST(mse AS FLOAT)").as("test_mse"),
        expr("CAST(alpha AS FLOAT)").as("decay_alpha"))
      .orderBy(col("f"))
  }
  private val m32Sql = {
    def inF(f: Int) = s"(tr = 1 AND b < $f)"
    val catCols = (1 to lcFs).map { f =>
      s"""CAST(SUM(CASE WHEN ${inF(f)} THEN 1 ELSE 0 END) AS BIGINT) AS c$f,
         | CAST(SUM(CASE WHEN ${inF(f)} THEN ym ELSE 0 END) AS BIGINT) AS s$f"""
        .stripMargin
    }.mkString(", ")
    val globCols = (1 to lcFs).map { f =>
      s"""CAST(SUM(CASE WHEN ${inF(f)} THEN 1 ELSE 0 END) AS BIGINT) AS n$f,
         | CAST(SUM(CASE WHEN ${inF(f)} THEN ym ELSE 0 END) AS BIGINT) AS g$f"""
        .stripMargin
    }.mkString(", ")
    val sseCols = (1 to lcFs).map { f =>
      val mean = s"""CASE WHEN ct.c$f > 0
                    | THEN CAST(ct.s$f AS DOUBLE) / 1000.0 / ct.c$f
                    | ELSE CAST(gl.g$f AS DOUBLE) / 1000.0 / gl.n$f END"""
        .stripMargin
      s"""CAST(SUM(CASE WHEN b0.tr = 0
         | THEN CAST(floor((b0.ym / 1000.0 - ($mean))
         |   * (b0.ym / 1000.0 - ($mean)) + 0.5) AS BIGINT)
         | ELSE 0 END) AS BIGINT) AS sse$f""".stripMargin
    }.mkString(", ")
    val curveRows = (1 to lcFs).map { f =>
      s"""SELECT $f AS f, gl.n$f AS n_train,
         | CAST(s.sse$f AS DOUBLE) / gl.n_t AS mse
         |FROM gtot gl CROSS JOIN sse s"""
    }.mkString(" UNION ALL ")
    s"""WITH b0 AS (
       | SELECT l_partkey % $lcK AS cat,
       |  CAST((l_orderkey * 2654435761) % 1000003 AS BIGINT) % 8 AS b,
       |  CASE WHEN l_orderkey % 4 = 3 THEN 0 ELSE 1 END AS tr,
       |  CAST(floor(l_extendedprice * 1000 + 0.5) AS BIGINT) AS ym
       | FROM lineitem),
       |cats AS (SELECT cat, $catCols FROM b0 GROUP BY cat),
       |gtot AS (
       | SELECT CAST(SUM(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_t, $globCols
       | FROM b0),
       |sse AS (
       | SELECT $sseCols
       | FROM b0 JOIN cats ct USING (cat) CROSS JOIN gtot gl),
       |curve AS (
       | SELECT f, n_train, mse,
       |  CAST(floor(ln(CAST(n_train AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
       |   AS lxq,
       |  CAST(floor(ln(mse) * 1e6 + 0.5) AS BIGINT) AS lyq
       | FROM ($curveRows)),
       |fit AS (
       | SELECT (CAST(COUNT(*) * SUM(lxq * lyq) - SUM(lxq) * SUM(lyq)
       |    AS DOUBLE))
       |  / (CAST(COUNT(*) * SUM(lxq * lxq) - SUM(lxq) * SUM(lxq) AS DOUBLE))
       |   AS alpha
       | FROM curve)
       |SELECT f, n_train, CAST(mse AS REAL) AS test_mse,
       | CAST(alpha AS REAL) AS decay_alpha
       |FROM curve CROSS JOIN fit ORDER BY f""".stripMargin
  }

  // ---- m24: Platt-scaling probability calibration --------------------------
  // The sigmoid calibrator (Platt 1999) that turns a raw classifier
  // score into a probability: fit P(y=1|f) = 1/(1+exp(A·f+B)) by
  // penalized max-likelihood with Platt's regularized targets
  // t+ = (N₊+1)/(N₊+2), t− = 1/(N₋+2), Newton's method on (A, B).
  // Runs on the m06/m07 integer-milli score and lang='en' label, binned
  // to 20 score bins — the f03 discipline: ONE corpus aggregation
  // builds the 20-row (n, pos) histogram, every Newton round is a
  // 5-scalar reduce over THAT table, O(1) driver state, no event ever
  // collected. Cross-engine determinism is stricter than f03's: each
  // round's per-bin sigmoid is micro-quantized (floor(p·1e6+0.5)/1e6)
  // and the five gradient/Hessian sums fold micro-quantized LONGS, so
  // the Newton trajectory is order-free integer arithmetic on both
  // engines — exp()'s last-ulp libm-vs-JVM drift is absorbed at each
  // quantization edge, never amplified across iterations. Fixed 3
  // iterations (quadratic convergence on a 2-parameter concave
  // problem), replayed by the oracle as chained CTEs.
  private val plattBins = 20
  private val plattIters = 3
  private def m24(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
      .select(expr(s"CAST($evalScore AS BIGINT)").as("sm"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("y"))
    val hist = d
      .select(least(expr("sm div 50"), lit(plattBins - 1L)).as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val tot = hist.agg(sum(col("pos")).as("np"),
      sum(col("n") - col("pos")).as("nn"))
    val h2 = hist.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("pos"),
        (expr("CAST(2 * bin + 1 AS DOUBLE)") / lit(40.0)).as("f"),
        (col("pos") * ((col("np") + lit(1.0)) / (col("np") + lit(2.0))) +
          (col("n") - col("pos")) * (lit(1.0) / (col("nn") + lit(2.0))))
          .as("t_b"))
      .localCheckpoint() // 20 rows; every Newton round re-reads THIS
    val trow = tot.head()
    val (np, nn) = (trow.getLong(0), trow.getLong(1))
    var a = 0.0
    var b = math.floor(math.log((nn + 1.0) / (np + 1.0)) * 1e6 + 0.5) / 1e6
    for (_ <- 1 to plattIters) {
      val r = h2
        .withColumn("pq", expr(
          s"floor(1e6 / (1.0 + exp(CAST($a AS DOUBLE) * f + CAST($b AS DOUBLE))) + 0.5) / 1e6"))
        .agg(
          sum(expr("CAST(floor((t_b - n * pq) * f * 1e6 + 0.5) AS BIGINT)")).as("ga"),
          sum(expr("CAST(floor((t_b - n * pq) * 1e6 + 0.5) AS BIGINT)")).as("gb"),
          sum(expr("CAST(floor(n * pq * (1.0 - pq) * f * f * 1e6 + 0.5) AS BIGINT)")).as("haa"),
          sum(expr("CAST(floor(n * pq * (1.0 - pq) * f * 1e6 + 0.5) AS BIGINT)")).as("hab"),
          sum(expr("CAST(floor(n * pq * (1.0 - pq) * 1e6 + 0.5) AS BIGINT)")).as("hbb"))
        .head()
      val (ga, gb) = (r.getLong(0) / 1e6, r.getLong(1) / 1e6)
      val (haa, hab, hbb) = (r.getLong(2) / 1e6, r.getLong(3) / 1e6, r.getLong(4) / 1e6)
      val det = haa * hbb - hab * hab
      a -= (hbb * ga - hab * gb) / det
      b -= (haa * gb - hab * ga) / det
    }
    h2.select(col("bin"), col("n"), col("pos"),
        expr(s"CAST(floor(1e6 / (1.0 + exp(CAST($a AS DOUBLE) * f + CAST($b AS DOUBLE))) + 0.5) / 1e6 AS FLOAT)")
          .as("p_cal"),
        lit(a).cast("float").as("a_hat"),
        lit(b).cast("float").as("b_hat"))
      .orderBy(col("bin"))
  }
  private val m24Sql = {
    val iters = (1 to plattIters).map { k =>
      val p = s"p${k - 1}"
      s"""s$k AS (
         | SELECT
         |  SUM(CAST(FLOOR((t_b - n * pq) * f * 1e6 + 0.5) AS BIGINT)) / 1e6 AS ga,
         |  SUM(CAST(FLOOR((t_b - n * pq) * 1e6 + 0.5) AS BIGINT)) / 1e6 AS gb,
         |  SUM(CAST(FLOOR(n * pq * (1.0 - pq) * f * f * 1e6 + 0.5) AS BIGINT)) / 1e6 AS haa,
         |  SUM(CAST(FLOOR(n * pq * (1.0 - pq) * f * 1e6 + 0.5) AS BIGINT)) / 1e6 AS hab,
         |  SUM(CAST(FLOOR(n * pq * (1.0 - pq) * 1e6 + 0.5) AS BIGINT)) / 1e6 AS hbb
         | FROM (SELECT h2.*,
         |        FLOOR(1e6 / (1.0 + EXP(p.a * h2.f + p.b)) + 0.5) / 1e6 AS pq
         |       FROM h2, $p p)),
         |p$k AS (
         | SELECT p.a - (s.hbb * s.ga - s.hab * s.gb)
         |          / (s.haa * s.hbb - s.hab * s.hab) AS a,
         |        p.b - (s.haa * s.gb - s.hab * s.ga)
         |          / (s.haa * s.hbb - s.hab * s.hab) AS b
         | FROM s$k s, $p p)"""
    }.mkString(",\n")
    s"""WITH d AS (
       | SELECT CAST($evalScoreDuck AS BIGINT) AS sm,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       | FROM documents),
       |hist AS (
       | SELECT LEAST(sm // 50, ${plattBins - 1}) AS bin,
       |  COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
       | FROM d GROUP BY 1),
       |tot AS (SELECT SUM(pos) AS np, SUM(n - pos) AS nn FROM hist),
       |h2 AS (
       | SELECT bin, n, pos,
       |  CAST(2 * bin + 1 AS DOUBLE) / 40.0 AS f,
       |  pos * ((np + 1.0) / (np + 2.0)) + (n - pos) * (1.0 / (nn + 2.0)) AS t_b
       | FROM hist CROSS JOIN tot),
       |p0 AS (
       | SELECT 0.0 AS a,
       |  FLOOR(LN((nn + 1.0) / (np + 1.0)) * 1e6 + 0.5) / 1e6 AS b
       | FROM tot),
       |$iters
       |SELECT h2.bin, h2.n, h2.pos,
       | CAST(FLOOR(1e6 / (1.0 + EXP(p.a * h2.f + p.b)) + 0.5) / 1e6 AS REAL)
       |   AS p_cal,
       | CAST(p.a AS REAL) AS a_hat, CAST(p.b AS REAL) AS b_hat
       |FROM h2, p$plattIters p ORDER BY h2.bin""".stripMargin
  }

  // ---- m34: per-fold feature standardization from the reference's scalers --
  // The reference's inference path loads a per-fold StandardScaler from
  // .npy before the DNN forward (data/trained_models/vbf/scalers/
  // scalers_pytorch_test_{fold}.npy, applied in stage1/dnn_models.py) —
  // this query reads those ACTUAL files with the engine's pure-JVM .npy
  // reader (sources/NumpyFile.scala), broadcasts the (fold, feat, mean,
  // std) table, and standardizes fold-assigned features exactly the way
  // m03's forward pass expects its inputs. Oracle = the independently
  // read literal scaler values + a full SQL replay of the fold split and
  // z-score. Scale: the scan side never shuffles (broadcast join keyed
  // by tiny ints); z milli-quantizes so the per-group sums are
  // order-free exact.
  private val m34Feats = Seq(0, 8, 16)
  private def m34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scalers = (0 until 4).flatMap { fold =>
      val a = graft.sources.NumpyFile.read(
        refData(s"trained_models/vbf/scalers/scalers_pytorch_test_$fold.npy"))
      require(a.shape == Seq(2, 24), s"unexpected scaler shape ${a.shape}")
      m34Feats.map(f => (fold, f, a(0, f), a(1, f)))
    }.toDF("fold", "feat", "mu", "sigma")
    val li = rd(s, dir, "lineitem")
    val feats = li.select((col("l_orderkey") % 4).cast("int").as("fold"),
        explode(array(
          struct(lit(0).as("feat"), (col("l_extendedprice") / 500.0).as("x")),
          struct(lit(8).as("feat"), (col("l_quantity") * 4.0).as("x")),
          struct(lit(16).as("feat"), (col("l_extendedprice") / 100.0).as("x"))))
          .as("fx"))
      .select(col("fold"), col("fx.feat").as("feat"), col("fx.x").as("x"))
    feats.join(broadcast(scalers), Seq("fold", "feat"))
      .select(col("fold"), col("feat"), col("mu"), col("sigma"),
        expr("CAST(FLOOR((x - mu) / sigma * 1000.0 + 0.5) AS BIGINT)").as("zq"))
      .groupBy(col("fold"), col("feat"))
      .agg(count(lit(1)).as("n"),
        max(col("mu")).cast("float").as("mean"),
        max(col("sigma")).cast("float").as("std"),
        sum(col("zq")).as("z_milli_sum"))
      .orderBy(col("fold"), col("feat"))
  }
  private val m34Sql =
    """WITH scalers(fold, feat, mu, sigma) AS (VALUES
      |(0, 0, 124.06333396475443, 10.354834276063958),
      |(0, 8, 113.64518287480082, 71.99152217193894),
      |(0, 16, 750.9765828746613, 434.9759742930827),
      |(1, 0, 124.06343740631938, 10.351318223261128),
      |(1, 8, 113.70781185283896, 72.13082336722553),
      |(1, 16, 751.1614687098437, 435.3930821304759),
      |(2, 0, 124.06077441147607, 10.346381022951343),
      |(2, 8, 113.56624791225201, 72.04068708914802),
      |(2, 16, 751.7074889981528, 435.7585934565947),
      |(3, 0, 124.06067153636278, 10.349924114446264),
      |(3, 8, 113.50327415565009, 71.90021320321974),
      |(3, 16, 751.5211346065466, 435.33916190991846)),
      |feats AS (
      | SELECT CAST(l_orderkey % 4 AS INT) AS fold, f.feat, f.x
      | FROM lineitem, LATERAL (VALUES
      |   (0, l_extendedprice / 500.0),
      |   (8, l_quantity * 4.0),
      |   (16, l_extendedprice / 100.0)) AS f(feat, x))
      |SELECT fold, feat, COUNT(*) AS n,
      | CAST(CAST(MAX(mu) AS DOUBLE) AS REAL) AS mean,
      | CAST(CAST(MAX(sigma) AS DOUBLE) AS REAL) AS std,
      | CAST(SUM(CAST(FLOOR((x - mu) / sigma * 1000.0 + 0.5) AS BIGINT))
      |  AS BIGINT) AS z_milli_sum
      |FROM feats JOIN scalers USING (fold, feat)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- m35: the reference's ACTUAL trained VBF DNN, end to end --------------
  // The showcase of the model-ingestion path: fold-0 of the trained
  // network the reference evaluates in production
  // (stage2/mva_evaluators.py:175-193 — Net 24->128->64->32->1, tanh
  // hidden activations, sigmoid output, arctanh score) with its REAL
  // weights read from model_pytorch_test_0.pt by the engine's pure-JVM
  // torch reader (sources/TorchPt.scala, pinned bit-for-bit against an
  // independent Python decode in TorchPtSpec) and its REAL per-fold
  // StandardScaler from the .npy. Inputs are deterministic z-space
  // pseudo-features placed at mu + sigma*z so the real scaler values
  // flow through the standardization step. The forward pass runs in the
  // native mlp_dense expression (m03's machinery: chunk-16 accumulation
  // identical to the oracle's chunkSumS, weights through %.6f text on
  // both engines). Scale: pure projection after one scan — no shuffle,
  // whole-stage codegen end to end, the same plan shape as m03.
  // all four trained folds (m36 routes between them; m35/n14 pin fold 0)
  private lazy val vbfSdAll = IndexedSeq.tabulate(4)(f =>
    graft.sources.TorchPt.readStateDict(
      refData(s"trained_models/vbf/models/model_pytorch_test_$f.pt")).toMap)
  private lazy val vbfScalerAll = IndexedSeq.tabulate(4)(f =>
    graft.sources.NumpyFile.read(
      refData(s"trained_models/vbf/scalers/scalers_pytorch_test_$f.npy")))
  private lazy val vbfSd = vbfSdAll(0)
  private lazy val vbfScaler = vbfScalerAll(0)
  private val vbfDims = Seq(24, 128, 64, 32)
  private val vbfLayerNames = Seq("fc1", "fc2", "fc3")
  // torch Linear stores weight as (out, in) row-major; mlp_dense and the
  // oracle index [in][out]
  private def vbfW(l: Int, fold: Int = 0): Array[Array[Double]] = {
    val t = vbfSdAll(fold)(vbfLayerNames(l) + ".weight")
    Array.tabulate(vbfDims(l), vbfDims(l + 1))((i, j) => t(j, i))
  }
  private def vbfB(l: Int, fold: Int = 0): Array[Double] =
    vbfSdAll(fold)(vbfLayerNames(l) + ".bias").data
  private def vbfWOut(fold: Int = 0): Array[Double] =
    vbfSdAll(fold)("output.weight").data // (1, 32)
  private def vbfBOut(fold: Int = 0): Double =
    vbfSdAll(fold)("output.bias").data(0)
  // deterministic z in (-2, 2): a per-feature multiplicative hash of the
  // event id, identical text on both engines
  // the CAST before the division keeps it a double division on both
  // engines: bigint / 1000.0 would be DECIMAL division — semantically
  // identical after rounding (IEEE division of the exact same integer
  // is correctly rounded) but ~15x slower in Spark (BigDecimal per row:
  // measured 20 s vs 1.3 s for the full m35 chain at sf0.01)
  private def vbfZSql(i: Int): String =
    s"(CAST((((event_id * ${2654435761L + i * 40503L}) % 4001) - 2000) AS DOUBLE) / 1000.0)"
  /** The standardized 24-feature input array from an event_id column —
    * real scaler values flow through the construction (see m35). */
  private[queries] def vbfH0: org.apache.spark.sql.Column = vbfH0For(0)
  private[queries] def vbfH0For(fold: Int): org.apache.spark.sql.Column =
    array((0 until vbfDims.head).map { i =>
      val mu = vbfScalerAll(fold)(0, i); val sg = vbfScalerAll(fold)(1, i)
      ((lit(mu) + lit(sg) * expr(vbfZSql(i))) - lit(mu)) / lit(sg)
    }: _*)
  /** The full real-weights forward pass as ONE nested column: sigmoid
    * score from an h0 array column. Weights enter as typedLit literal
    * arrays of the SAME %.6f-rounded doubles the oracle text carries —
    * skipping the SQL parser for the ~17k weight tokens (measured:
    * 23.8 s one-shot via expr text vs ~1 s warm; the parse was the
    * cost, not the math). */
  private[queries] def vbfScore(h0: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    vbfScoreFor(h0, 0)
  private[queries] def vbfScoreFor(h0: org.apache.spark.sql.Column,
      fold: Int): org.apache.spark.sql.Column = {
    def wlit(xs: Seq[Double]) = typedLit(xs.map(x => lit6(x).toDouble))
    val hLast = (0 until vbfDims.size - 1).foldLeft(h0) { (cur, l) =>
      call_function("mlp_dense", cur, wlit(vbfW(l, fold).flatten.toSeq),
        wlit(vbfB(l, fold).toSeq), lit(true))
    }
    val out = element_at(call_function("mlp_dense", hLast,
      wlit(vbfWOut(fold).toSeq), wlit(Seq(vbfBOut(fold))), lit(false)), 1)
    lit(1.0) / (lit(1.0) + exp(negate(out)))
  }
  private def m35(s: SparkSession, dir: String): DataFrame = {
    // The forward pass is compute-bound (3 dense layers/row), so the
    // plan must parallelize across cores. At bench SF the events table
    // is ONE parquet split -> a blanket repartition was a full shuffle
    // just to spread a stateless map (round-8 verdict flagged it: at
    // 100 TB that shuffle is a real cost and the scan already yields
    // >= cores splits). Conditional spelling: fan out only when the
    // scan under-splits the core count — a no-op branch at scale.
    val ev0 = rd(s, dir, "events")
    val par = s.sparkContext.defaultParallelism
    val ev = if (ev0.rdd.getNumPartitions < par) ev0.repartition(par) else ev0
    val sigm = vbfScore(col("h0"))
    ev.select(col("event_id"), vbfH0.as("h0"))
      .select(col("event_id"),
        sigm.cast("float").as("vbf_score"),
        (lit(0.5) * log((lit(1.0) + sigm) / (lit(1.0) - sigm)))
          .cast("float").as("vbf_score_atanh"))
      .orderBy(col("event_id"))
  }
  /** SQL text of the full forward pass: (inner subquery producing
    * event_id + h3_* columns from `fromClause`, sigmoid expr over them).
    * Shared by m35's oracle and n14's streaming batch oracle. */
  private[queries] def vbfScoreSqlParts(fromClause: String,
      extraCols: String = "", fold: Int = 0): (String, String) = {
    def d(x: Double) = s"CAST('$x' AS DOUBLE)" // exact round-trip, no DECIMAL inference
    val keep = if (extraCols.isEmpty) "event_id" else s"event_id, $extraCols"
    val std = (0 until vbfDims.head).map { i =>
      val mu = d(vbfScalerAll(fold)(0, i)); val sg = d(vbfScalerAll(fold)(1, i))
      s"((($mu + $sg * (${vbfZSql(i)})) - $mu) / $sg) AS h0_$i"
    }.mkString(", ")
    val layers = (0 until vbfDims.size - 1).map { l =>
      val w = vbfW(l, fold); val b = vbfB(l, fold)
      (0 until vbfDims(l + 1)).map { j =>
        val z = chunkSumS((0 until vbfDims(l))
          .map(i => s"h${l}_$i * ${lit6(w(i)(j))}")) + s" + ${lit6(b(j))}"
        s"${tanhS(z)} AS h${l + 1}_$j"
      }.mkString(", ")
    }
    val L = vbfDims.size - 1
    val out = chunkSumS((0 until vbfDims.last)
      .map(j => s"h${L}_$j * ${lit6(vbfWOut(fold)(j))}")) + s" + ${lit6(vbfBOut(fold))}"
    val sigm = s"(1.0 / (1.0 + EXP(-($out))))"
    val inner = layers.foldLeft(
      s"SELECT $keep, $std FROM $fromClause") {
      case (sub, cols) => s"SELECT $keep, $cols FROM ($sub)"
    }
    (inner, sigm)
  }
  private lazy val m35Sql = {
    val (inner, sigm) = vbfScoreSqlParts("events")
    s"""SELECT event_id,
       | CAST($sigm AS REAL) AS vbf_score,
       | CAST(0.5 * LN((1.0 + $sigm) / (1.0 - $sigm)) AS REAL) AS vbf_score_atanh
       |FROM ($inner)
       |ORDER BY event_id""".stripMargin
  }

  // ---- m36: the real 4-fold VBF DNN ensemble with reference routing --------
  // The reference never scores an event with a model that trained on
  // it: model i evaluates the events with event % 4 == (i + 3) % 4
  // (stage2/mva_evaluators.py:154-158 — eval_folds = [(i+3) % 4]),
  // i.e. event-fold e is scored by model (e + 1) % 4 with THAT fold's
  // StandardScaler (m34's real .npy files) and THAT fold's trained
  // weights (m35's real .pt files). Composes m01 (the split) + m34
  // (scalers) + m35 (forward). Engine shape: a 4-branch CASE over the
  // event-fold key where each branch is the full fold-specific
  // standardize -> mlp_dense forward -> sigmoid column — CaseWhen
  // evaluates only the matched branch per row, so the per-row cost is
  // ONE forward pass and the plan stays a single scan + projection.
  // Oracle: four vbfScoreSqlParts chains (one per model fold) UNION
  // ALL'd over WHERE event_id % 4 = e.
  /** The full 4-fold ensemble sigmoid over an `event_id` column — the
    * reference's routing (model (e+1)%4 scores event-fold e) as ONE
    * CaseWhen column; shared by m36 and n14's streaming projection. */
  private[queries] def vbfEnsembleSigm: org.apache.spark.sql.Column = {
    val efold = (col("event_id") % 4).cast("int")
    val sigmFor = (0 until 4).map { e =>
      val model = (e + 1) % 4
      vbfScoreFor(vbfH0For(model), model)
    }
    when(efold === 0, sigmFor(0))
      .when(efold === 1, sigmFor(1))
      .when(efold === 2, sigmFor(2))
      .otherwise(sigmFor(3))
  }
  private def m36(s: SparkSession, dir: String): DataFrame = {
    val ev0 = rd(s, dir, "events")
    val par = s.sparkContext.defaultParallelism
    val ev = if (ev0.rdd.getNumPartitions < par) ev0.repartition(par) else ev0
    val sigm = vbfEnsembleSigm
    ev.select(col("event_id"), (col("event_id") % 4).cast("int").as("efold"))
      .select(col("event_id"), col("efold"),
        ((col("efold") + 1) % 4).cast("int").as("model_fold"),
        sigm.cast("float").as("vbf_score"),
        (lit(0.5) * log((lit(1.0) + sigm) / (lit(1.0) - sigm)))
          .cast("float").as("vbf_score_atanh"))
      .orderBy(col("event_id"))
  }
  private lazy val m36Sql = {
    val branches = (0 until 4).map { e =>
      val model = (e + 1) % 4
      val (inner, sigm) = vbfScoreSqlParts(
        s"(SELECT * FROM events WHERE event_id % 4 = $e)", "", model)
      s"""SELECT event_id, CAST(event_id % 4 AS INT) AS efold,
         | CAST($model AS INT) AS model_fold,
         | CAST($sigm AS REAL) AS vbf_score,
         | CAST(0.5 * LN((1.0 + $sigm) / (1.0 - $sigm)) AS REAL) AS vbf_score_atanh
         |FROM ($inner)""".stripMargin
    }
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m33_ablation_importance" -> (m33 _),
    "m34_fold_scalers" -> (m34 _),
    "m35_vbf_dnn_real" -> (m35 _),
    "m36_vbf_fold_ensemble" -> (m36 _),
    "m32_scaling_law" -> (m32 _),
    "m31_mannwhitney" -> (m31 _),
    "m30_gbdt_loop" -> (m30 _),
    "m29_boost_step" -> (m29 _),
    "m28_conformal" -> (m28 _),
    "m27_msprt_monitor" -> (m27 _),
    "m26_cuped_abtest" -> (m26 _),
    "m25_poisson_bootstrap" -> (m25 _),
    "m24_platt_calibration" -> (m24 _),
    "m23_pdp_tree" -> (m23 _),
    "m22_woe_iv" -> (m22 _),
    "m21_linear_shap" -> (m21 _),
    "m12_confusion_mcc" -> (m12 _),
    "m11_calibration_curve" -> (m11 _),
    "m14_isotonic_calibration" -> (m14 _),
    "m15_average_precision" -> (m15 _),
    "m16_brier_decomposition" -> (m16 _),
    "m17_chi2_features" -> (m17 _),
    "m18_cv_auc" -> (m18 _),
    "m19_kendall_tau" -> (m19 _),
    "m20_psi_drift" -> (m20 _),
    "m10_target_encoding" -> (m10 _),
    "m09_decile_lift" -> (m09 _),
    "m08_ks_test" -> (m08 _),
    "m06_threshold_sweep" -> (m06 _),
    "m07_auc_exact" -> (m07 _),
    "m05_logreg_step" -> (m05 _),
    "m01_fold_split" -> (m01 _),
    "m02_feature_prep" -> (m02 _),
    "m03_mlp_forward" -> (m03 _),
    "m04_tree_ensemble" -> (m04 _),
    "m13_multiclass_bdt" -> (m13 _)
  )

  val oracle: collection.MapView[String, String] = withDeferred(Map(
    "m33_ablation_importance" -> m33Sql,
    "m34_fold_scalers" -> m34Sql,
    "m32_scaling_law" -> m32Sql,
    "m31_mannwhitney" -> m31Sql,
    "m30_gbdt_loop" -> m30Sql,
    "m29_boost_step" -> m29Sql,
    "m28_conformal" -> m28Sql,
    "m27_msprt_monitor" -> m27Sql,
    "m26_cuped_abtest" -> m26Sql,
    "m25_poisson_bootstrap" -> m25Sql,
    "m24_platt_calibration" -> m24Sql,
    "m12_confusion_mcc" -> m12Sql,
    "m11_calibration_curve" -> m11Sql,
    "m14_isotonic_calibration" -> m14Sql,
    "m15_average_precision" -> m15Sql,
    "m16_brier_decomposition" -> m16Sql,
    "m17_chi2_features" -> m17Sql,
    "m18_cv_auc" -> m18Sql,
    "m19_kendall_tau" -> m19Sql,
    "m20_psi_drift" -> m20Sql,
    "m10_target_encoding" -> m10Sql,
    "m09_decile_lift" -> m09Sql,
    "m08_ks_test" -> m08Sql,
    "m06_threshold_sweep" -> m06Sql,
    "m07_auc_exact" -> m07Sql,
    "m23_pdp_tree" -> m23Sql,
    "m22_woe_iv" -> m22Sql,
    "m21_linear_shap" -> m21Sql,
    "m05_logreg_step" -> m05Sql,
    "m01_fold_split" -> m01Sql,
    "m02_feature_prep" -> m02Sql,
    "m03_mlp_forward" -> m03Sql,
    "m04_tree_ensemble" -> m04Sql,
    "m13_multiclass_bdt" -> m13Sql),
    "m35_vbf_dnn_real" -> (() => m35Sql),
    "m36_vbf_fold_ensemble" -> (() => m36Sql))
}
