package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parametric fitting — the engine-side half of the reference's fit
  * stage (reference: stage3/fitter.py fits unbinned mass columns the
  * engine delivers; SURVEY scopes the RooFit numerics out-of-engine).
  * This family closes the gap Spark-natively: an UNBINNED maximum-
  * likelihood fit whose per-iteration work is ONE distributed
  * aggregation over the event sample, with the driver holding only the
  * O(1) parameter vector between rounds — the a14 converge-loop shape,
  * which is exactly how a fit survives a 100 TB unbinned sample (the
  * sample is scanned/cached once; each EM round is a map-side-combined
  * 4-scalar reduce, never a collect of events).
  *
  * Model: Gaussian signal + uniform background on a fixed window,
  * fit by expectation-maximization with a FIXED iteration count and
  * fixed deterministic initialization — closed-form E and M steps, so
  * the DuckDB oracle replays the identical schedule as chained CTEs.
  * All constants (√2π, the window, inits) are shared literals; final
  * parameters cast to float32 to absorb libm-vs-JVM exp() last-ulp
  * drift (the t18/w01 discipline).
  */
object FitQueries extends QueryFamily {

  // fit window and deterministic init — shared by plan and oracle
  private val fitLo = 0.0
  private val fitHi = 500.0
  private val initF = 0.5
  private val initMu = 250.0
  private val initSig = 100.0
  private val emIters = 5
  private val sqrt2pi = "2.5066282746310002"
  private val bgDens = s"(1.0 / (${fitHi - fitLo}))"

  /** Gaussian density formula as a SQL string over column/param refs —
    * ONE shared spelling so both engines build the identical
    * expression tree (fixed parenthesization, literal √2π). */
  private def gaussSql(x: String, mu: String, sig: String): String =
    s"(exp(-(($x - $mu) * ($x - $mu)) / (2.0 * $sig * $sig)) / ($sig * $sqrt2pi))"

  private def respSql(x: String, f: String, mu: String, sig: String): String = {
    val g = gaussSql(x, mu, sig)
    s"(($f * $g) / ($f * $g + (1.0 - $f) * $bgDens))"
  }

  // ---- f01: unbinned EM fit (Gaussian signal + uniform background) --------
  private def f01(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    // one pass to the cached unbinned sample; every EM round re-reads
    // THIS, not the source (at scale: a checkpointed/cached column)
    val pts = o.select((col("o_totalprice") / 1000.0).as("x"))
      .filter(col("x") >= fitLo && col("x") < fitHi)
      .localCheckpoint()
    var (f, mu, sig) = (initF, initMu, initSig)
    var n = 0L
    for (_ <- 1 to emIters) {
      // E+M in one aggregation: responsibilities never materialize
      // (param-as-broadcast-column rejected r15 — see f23Newton.corpus)
      val r = expr(respSql("x", s"CAST($f AS DOUBLE)",
        s"CAST($mu AS DOUBLE)", s"CAST($sig AS DOUBLE)"))
      val row = pts.agg(
        sum(r).as("sr"),
        sum(r * col("x")).as("srx"),
        sum(r * col("x") * col("x")).as("srx2"),
        count(lit(1)).as("n")).head()
      val (sr, srx, srx2) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
      n = row.getLong(3)
      f = sr / n
      mu = srx / sr
      sig = math.sqrt(srx2 / sr - mu * mu)
    }
    // emit from the data (1-row aggregate), params as driver literals —
    // the a14 convention for converge-loop outputs
    pts.agg(count(lit(1)).as("n_events"))
      .select(col("n_events"),
        lit(f).cast("float").as("sig_frac"),
        lit(mu).cast("float").as("sig_mean"),
        lit(sig).cast("float").as("sig_sigma"))
  }
  private val f01Sql = {
    val iters = (1 to emIters).map { k =>
      val p = s"p${k - 1}"
      val r = respSql("x", s"$p.f", s"$p.mu", s"$p.sig")
      s"""it$k AS (
         | SELECT SUM($r) AS sr, SUM($r * x) AS srx, SUM($r * x * x) AS srx2,
         |        COUNT(*) AS n
         | FROM pts, $p),
         |p$k AS (
         | SELECT sr / n AS f, srx / sr AS mu,
         |        sqrt(srx2 / sr - (srx / sr) * (srx / sr)) AS sig
         | FROM it$k)"""
    }.mkString(",\n").stripMargin
    s"""WITH pts AS (
       | SELECT o_totalprice / 1000.0 AS x FROM orders
       | WHERE o_totalprice / 1000.0 >= $fitLo AND o_totalprice / 1000.0 < $fitHi),
       |p0 AS (SELECT CAST($initF AS DOUBLE) AS f, CAST($initMu AS DOUBLE) AS mu,
       |              CAST($initSig AS DOUBLE) AS sig),
       |$iters
       |SELECT (SELECT COUNT(*) FROM pts) AS n_events,
       | CAST(f AS REAL) AS sig_frac,
       | CAST(mu AS REAL) AS sig_mean,
       | CAST(sig AS REAL) AS sig_sigma
       |FROM p$emIters""".stripMargin
  }

  // ---- f02: closed-form chi-square template fit ---------------------------
  // The binned least-squares companion of TemplateFit's Poisson Newton
  // fit: with per-bin variance σ²_b the χ² optimum for obs ≈ μ·sig+bkg
  // is LINEAR in μ —
  //     μ̂ = Σ s_b(d_b−b_b)/σ²_b  /  Σ s²_b/σ²_b
  // so the whole fit is ONE aggregation over the binned table: scan →
  // (bin × template) conditional sums → 1-row reduce. The templates
  // here are the three l_returnflag populations of lineitem (obs='A',
  // sig='R', bkg='N'), σ² = max(d_b, 1) — Neyman weighting. At 100 TB
  // the histogram reduce is the only corpus-sized stage; the fit math
  // rides the same 1-row aggregate.
  private val chi2Bins = 20
  private def f02(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val hist = li
      .select(least(floor(col("l_extendedprice") / 5000.0), lit(chi2Bins - 1))
          .cast("long").as("bin"),
        col("l_returnflag").as("fl"))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("fl") === "A", 1.0).otherwise(0.0)).as("d"),
        sum(when(col("fl") === "R", 1.0).otherwise(0.0)).as("s0"),
        sum(when(col("fl") === "N", 1.0).otherwise(0.0)).as("b"))
      .withColumn("var", greatest(col("d"), lit(1.0)))
    val muNum = sum(col("s0") * (col("d") - col("b")) / col("var"))
    val muDen = sum(col("s0") * col("s0") / col("var"))
    val agg = hist.agg(muNum.as("num"), muDen.as("den"),
      count(lit(1)).as("n_bins"),
      sum((col("d") - col("b")) * (col("d") - col("b")) / col("var")).as("chi2_mu0"))
    agg.select(col("n_bins"),
      (col("num") / col("den")).cast("float").as("mu_hat"),
      // χ²(μ̂) = χ²(0) − μ̂·num (expanding the quadratic at the optimum)
      (col("chi2_mu0") - (col("num") / col("den")) * col("num"))
        .cast("float").as("chi2_min"))
  }
  private val f02Sql =
    s"""WITH hist AS (
       | SELECT LEAST(CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT), ${chi2Bins - 1}) AS bin,
       |  SUM(CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END) AS d,
       |  SUM(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS s0,
       |  SUM(CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END) AS b
       | FROM lineitem GROUP BY 1),
       |v AS (SELECT *, GREATEST(d, 1.0) AS var FROM hist),
       |agg AS (
       | SELECT SUM(s0 * (d - b) / var) AS num, SUM(s0 * s0 / var) AS den,
       |  COUNT(*) AS n_bins,
       |  SUM((d - b) * (d - b) / var) AS chi2_mu0
       | FROM v)
       |SELECT n_bins,
       | CAST(num / den AS REAL) AS mu_hat,
       | CAST(chi2_mu0 - (num / den) * num AS REAL) AS chi2_min
       |FROM agg""".stripMargin

  // ---- f03: profile-likelihood discovery significance ---------------------
  // The asymptotic q0 of Cowan/Cranmer/Gross/Vitells (arXiv:1007.1727),
  // the quantity the reference's fit stage ultimately reports for a
  // signal search (reference: stage3/fitter.py builds the workspace
  // whose profile-likelihood ratio an external fitter maximizes).
  // Engine-side this is the a14/f01 converge-loop shape: ONE
  // corpus-sized aggregation builds the binned (obs, sig, bkg)
  // templates; each Newton round for the signal strength μ̂ is then a
  // 3-scalar reduce over the 20-bin table — O(1) driver state, no
  // event ever collected. Binned Poisson logL:
  //     lnL(μ) = Σ_b [ d_b·ln(μ·s_b + b_b) − (μ·s_b + b_b) ]
  //     g(μ)   = Σ d·s/(μs+b) − Σ s          (gradient)
  //     h(μ)   = Σ d·s²/(μs+b)²              (−Hessian, > 0)
  //     q0     = 2·[lnL(μ̂) − lnL(0)] = 2·Σ[ d·ln((μ̂s+b)/b) − μ̂·s ]
  // Roles (the standard Asimov closure construction, Cowan et al. §3):
  // obs = ALL rows, sig template = the 'R' population, bkg = 'A'+'N' —
  // so d ≡ 1·s + b by construction, μ̂ = 1 exactly, and Newton from
  // μ₀ = 0.5 walks a genuine (monotone, quadratically converging)
  // trajectory both engines must reproduce bit-for-bit. μ is clamped
  // ≥ 0 each step (discovery-test convention: q0 ≔ 0 for downward
  // fluctuations), b clamped ≥ 0.5 (empty-bin guard). Fixed 4 Newton
  // iterations, replayed by the oracle as chained CTEs; outputs cast
  // to float32 to absorb libm-vs-JVM log() last-ulp drift.
  private val newtonIters = 4
  private def f03(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val hist = li
      .select(least(floor(col("l_extendedprice") / 5000.0), lit(chi2Bins - 1))
          .cast("long").as("bin"),
        col("l_returnflag").as("fl"))
      .groupBy(col("bin"))
      .agg(
        sum(lit(1.0)).as("d"),
        sum(when(col("fl") === "R", 1.0).otherwise(0.0)).as("s0"),
        greatest(sum(when(col("fl") =!= "R", 1.0).otherwise(0.0)), lit(0.5)).as("b"))
      .localCheckpoint() // 20 rows; every Newton round re-reads THIS
    var mu = 0.5
    for (_ <- 1 to newtonIters) {
      val pred = expr(s"(CAST($mu AS DOUBLE) * s0 + b)")
      val row = hist.agg(
        sum(col("d") * col("s0") / pred).as("g1"),
        sum(col("s0")).as("stot"),
        sum(col("d") * col("s0") * col("s0") / (pred * pred)).as("h")).head()
      mu = math.max(mu + (row.getDouble(0) - row.getDouble(1)) / row.getDouble(2), 0.0)
    }
    val muC = lit(mu)
    hist.agg(
        count(lit(1)).as("n_bins"),
        sum(col("d") * log(((muC * col("s0") + col("b")) / col("b"))) - muC * col("s0"))
          .as("half_q0"))
      .select(col("n_bins"),
        lit(mu).cast("float").as("mu_hat"),
        (lit(2.0) * col("half_q0")).cast("float").as("q0"),
        sqrt(greatest(lit(2.0) * col("half_q0"), lit(0.0))).cast("float").as("z"))
  }
  private val f03Sql = {
    val iters = (1 to newtonIters).map { k =>
      val p = s"m${k - 1}"
      s"""n$k AS (
         | SELECT SUM(d * s0 / (mu * s0 + b)) AS g1, SUM(s0) AS stot,
         |        SUM(d * s0 * s0 / ((mu * s0 + b) * (mu * s0 + b))) AS h
         | FROM hist, $p),
         |m$k AS (SELECT GREATEST(mu + (g1 - stot) / h, 0.0) AS mu FROM n$k, $p)"""
    }.mkString(",\n").stripMargin
    s"""WITH raw AS (
       | SELECT LEAST(CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT), ${chi2Bins - 1}) AS bin,
       |  CAST(SUM(1.0) AS DOUBLE) AS d,
       |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS s0,
       |  CAST(GREATEST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1.0 ELSE 0.0 END), 0.5) AS DOUBLE) AS b
       | FROM lineitem GROUP BY 1),
       |hist AS (SELECT * FROM raw),
       |m0 AS (SELECT CAST(0.5 AS DOUBLE) AS mu),
       |$iters,
       |q AS (
       | SELECT COUNT(*) AS n_bins,
       |  SUM(d * LN(((mu * s0 + b) / b)) - mu * s0) AS half_q0
       | FROM hist, m$newtonIters)
       |SELECT n_bins,
       | (SELECT CAST(mu AS REAL) FROM m$newtonIters) AS mu_hat,
       | CAST(2.0 * half_q0 AS REAL) AS q0,
       | CAST(SQRT(GREATEST(2.0 * half_q0, 0.0)) AS REAL) AS z
       |FROM q""".stripMargin
  }

  // ---- f04: nuisance impact ranking ---------------------------------------
  // The "ranking plot" input every fit report leads with (reference:
  // stage3's systematics treatment feeds exactly this): for each
  // systematic source, re-fit with the background template shifted
  // ±1σ and report Δμ̂. Because f02's χ² optimum is CLOSED-FORM
  // (μ̂ = Σ s(d−b)/σ² / Σ s²/σ², with σ² fixed by the data), the
  // whole 6-source × 2-direction scan is: ONE corpus histogram
  // aggregation (20 bins) → cross join with the literal source dim →
  // per-source 1-row reduces. No per-variation corpus re-scan — the
  // s06 fanout discipline. Shift model: source k tilts the background
  // linearly in the bin index, b_k±(bin) = b·(1 ± a_k·(bin−10)/20).
  // Ordering is on the micro-quantized |Δμ| (order-free), float32 out.
  private val impactSources: Seq[(String, Double)] = Seq(
    "jes_tilt" -> 0.08, "jer_slope" -> 0.05, "btag_shape" -> 0.035,
    "pu_profile" -> 0.025, "lumi_band" -> 0.015, "qgl_morph" -> 0.01)
  private def f04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = rd(s, dir, "lineitem")
    val hist = li
      .select(least(floor(col("l_extendedprice") / 5000.0), lit(chi2Bins - 1))
          .cast("long").as("bin"),
        col("l_returnflag").as("fl"))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("fl") === "A", 1.0).otherwise(0.0)).as("d"),
        sum(when(col("fl") === "R", 1.0).otherwise(0.0)).as("s0"),
        sum(when(col("fl") === "N", 1.0).otherwise(0.0)).as("b"))
      .withColumn("var", greatest(col("d"), lit(1.0)))
      .localCheckpoint() // 20 rows; feeds the nominal and all 12 variants
    val srcDim = impactSources.toDF("src", "amp")
    val tilt = expr("(CAST(bin AS DOUBLE) - 10.0) / 20.0")
    def muHat(bCol: org.apache.spark.sql.Column) = {
      val num = sum(col("s0") * (col("d") - bCol) / col("var"))
      val den = sum(col("s0") * col("s0") / col("var"))
      (num, den)
    }
    val (numN, denN) = muHat(col("b"))
    val (numU, _) = muHat(col("b") * (lit(1.0) + col("amp") * tilt))
    val (numD, _) = muHat(col("b") * (lit(1.0) - col("amp") * tilt))
    val agg = hist.crossJoin(broadcast(srcDim))
      .groupBy(col("src"))
      .agg(numN.as("num_n"), denN.as("den"), numU.as("num_u"), numD.as("num_d"))
      .select(col("src"),
        (col("num_n") / col("den")).as("mu_nom"),
        (col("num_u") / col("den") - col("num_n") / col("den")).as("d_up"),
        (col("num_d") / col("den") - col("num_n") / col("den")).as("d_dn"))
    val ranked = agg
      .withColumn("impact_micro",
        expr("CAST(floor(GREATEST(ABS(d_up), ABS(d_dn)) * 1000000.0 + 0.5) AS BIGINT)"))
      .orderBy(col("impact_micro").desc, col("src").asc)
      .limit(impactSources.size)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("impact_micro").desc, col("src").asc)
    ranked.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("src"),
        col("mu_nom").cast("float").as("mu_nom"),
        col("d_up").cast("float").as("delta_mu_up"),
        col("d_dn").cast("float").as("delta_mu_down"),
        col("impact_micro"))
      .orderBy(col("rank"))
  }
  private val f04Sql = {
    val srcRows = impactSources.map { case (n, a) => s"('$n', $a)" }.mkString(", ")
    s"""WITH hist AS (
       | SELECT LEAST(CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT), ${chi2Bins - 1}) AS bin,
       |  SUM(CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END) AS d,
       |  SUM(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS s0,
       |  SUM(CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END) AS b
       | FROM lineitem GROUP BY 1),
       |v AS (SELECT *, GREATEST(d, 1.0) AS var,
       |       (CAST(bin AS DOUBLE) - 10.0) / 20.0 AS tilt FROM hist),
       |srcs(src, amp) AS (VALUES $srcRows),
       |agg AS (
       | SELECT src,
       |  SUM(s0 * (d - b) / var) AS num_n,
       |  SUM(s0 * s0 / var) AS den,
       |  SUM(s0 * (d - b * (1.0 + amp * tilt)) / var) AS num_u,
       |  SUM(s0 * (d - b * (1.0 - amp * tilt)) / var) AS num_d
       | FROM v CROSS JOIN srcs GROUP BY 1),
       |im AS (
       | SELECT src, num_n / den AS mu_nom,
       |  num_u / den - num_n / den AS d_up,
       |  num_d / den - num_n / den AS d_dn
       | FROM agg),
       |ranked AS (
       | SELECT src, mu_nom, d_up, d_dn,
       |  CAST(FLOOR(GREATEST(ABS(d_up), ABS(d_dn)) * 1000000.0 + 0.5) AS BIGINT) AS impact_micro
       | FROM im)
       |SELECT ROW_NUMBER() OVER (ORDER BY impact_micro DESC, src ASC) AS rank,
       | src, CAST(mu_nom AS REAL) AS mu_nom,
       | CAST(d_up AS REAL) AS delta_mu_up,
       | CAST(d_dn AS REAL) AS delta_mu_down, impact_micro
       |FROM ranked ORDER BY rank""".stripMargin
  }

  // ---- f05: multi-family parametric fit + min-chi2/dof selection ----------
  // The reference's pdf-family scan (stage3/fitter.py:36-51 fits six
  // families per (channel, category) via fit_models.py:6-392 and keeps
  // the minimum chi2/dof family). Engine-side with three public
  // families whose fits are CLOSED-FORM weighted-least-squares normal
  // equations — so the DuckDB oracle replays the identical algebra:
  //   bernstein1  m(x) = p + q·x            (deg-1 Bernstein span; 2 par)
  //   chebyshev2  m(x) = c0 + c1·x + c2·x²  (deg-2 Chebyshev span; 3 par)
  //   explin      m(x) = exp(a + b·x)       (log-linear exponential; 2 par)
  // Scale shape: ONE corpus aggregation builds the per-channel binned
  // spectrum (3 channels × ≤20 bins, checkpointed); moments, Cramer
  // solves, per-bin chi2 and the r9-style min-rank window all ride the
  // ≤60-row table. The three solves share ONE moment aggregation — the
  // family scan costs zero extra corpus scans (the s06/f04 fanout
  // discipline). Selection orders on micro-quantized chi2/dof
  // (order-free across engines); reported chi2 cast to float32.
  private val xSql = s"((CAST(bin AS DOUBLE) + 0.5) / $chi2Bins)"
  private val lySql = "LN(GREATEST(d, 1.0))"
  // closed-form 2x2 and 3x3 (Cramer) solves over the moment columns —
  // ONE spelling, shared by both engines verbatim
  private val detL = "(nb * s2 - s1 * s1)"
  private val pSql = s"((t0 * s2 - t1 * s1) / $detL)"
  private val qSql = s"((nb * t1 - s1 * t0) / $detL)"
  private val aSql = s"((l0 * s2 - l1 * s1) / $detL)"
  private val bSql = s"((nb * l1 - s1 * l0) / $detL)"
  private val det3 =
    "(nb * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) + s2 * (s1 * s3 - s2 * s2))"
  private val c0Sql =
    s"((t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - s3 * t2) + s2 * (t1 * s3 - s2 * t2)) / $det3)"
  private val c1Sql =
    s"((nb * (t1 * s4 - s3 * t2) - t0 * (s1 * s4 - s3 * s2) + s2 * (s1 * t2 - t1 * s2)) / $det3)"
  private val c2Sql =
    s"((nb * (s2 * t2 - t1 * s3) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s3 - s2 * s2)) / $det3)"
  private def chiSql(model: String): String =
    s"SUM((d - $model) * (d - $model) / GREATEST(d, 1.0))"
  private val modLin = "(p + q * x)"
  private val modQuad = "(c0 + c1 * x + c2 * x * x)"
  private val modExp = "EXP(a0 + b0 * x)"

  private def f05(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val hist = li
      .select(col("l_returnflag").as("ch"),
        least(floor(col("l_extendedprice") / 5000.0), lit(chi2Bins - 1))
          .cast("long").as("bin"))
      .groupBy(col("ch"), col("bin"))
      .agg(sum(lit(1.0)).as("d"))
      .withColumn("x", expr(xSql))
      .localCheckpoint() // ≤60 rows; feeds moments AND the chi2 pass
    val mom = hist.groupBy(col("ch")).agg(
      expr("CAST(COUNT(*) AS DOUBLE)").as("nb"),
      expr("SUM(x)").as("s1"), expr("SUM(x * x)").as("s2"),
      expr("SUM(x * x * x)").as("s3"), expr("SUM(x * x * x * x)").as("s4"),
      expr("SUM(d)").as("t0"), expr("SUM(d * x)").as("t1"),
      expr("SUM(d * x * x)").as("t2"),
      expr(s"SUM($lySql)").as("l0"), expr(s"SUM($lySql * x)").as("l1"))
    val coef = mom.select(col("ch"), col("nb"),
      expr(pSql).as("p"), expr(qSql).as("q"),
      expr(c0Sql).as("c0"), expr(c1Sql).as("c1"), expr(c2Sql).as("c2"),
      expr(aSql).as("a0"), expr(bSql).as("b0"))
    val chi = hist.join(broadcast(coef), "ch")
      .groupBy(col("ch"))
      .agg(max(col("nb")).as("nb"),
        expr(chiSql(modLin)).as("chi2_lin"),
        expr(chiSql(modQuad)).as("chi2_quad"),
        expr(chiSql(modExp)).as("chi2_exp"))
    val fams = chi.selectExpr("ch", "nb",
      "stack(3, 'bernstein1', 2, chi2_lin, " +
        "'chebyshev2', 3, chi2_quad, " +
        "'explin', 2, chi2_exp) AS (family, n_params, chi2)")
      .withColumn("chi2_dof", col("chi2") / (col("nb") - col("n_params")))
      .withColumn("cd_micro",
        expr("CAST(FLOOR(chi2 / (nb - n_params) * 1000000.0 + 0.5) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ch"))
      .orderBy(col("cd_micro").asc, col("family").asc)
    fams.withColumn("rank", row_number().over(w))
      .select(col("ch"), col("rank"), col("family"), col("n_params"),
        col("nb").cast("long").as("n_bins"),
        col("chi2").cast("float").as("chi2"),
        col("chi2_dof").cast("float").as("chi2_dof"),
        col("cd_micro"))
      .orderBy(col("ch"), col("rank"))
  }
  private val f05Sql =
    s"""WITH hist AS (
       | SELECT l_returnflag AS ch,
       |  LEAST(CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT), ${chi2Bins - 1}) AS bin,
       |  CAST(SUM(1.0) AS DOUBLE) AS d
       | FROM lineitem GROUP BY 1, 2),
       |hx AS (SELECT *, $xSql AS x FROM hist),
       |mom AS (
       | SELECT ch, CAST(COUNT(*) AS DOUBLE) AS nb,
       |  SUM(x) AS s1, SUM(x * x) AS s2, SUM(x * x * x) AS s3,
       |  SUM(x * x * x * x) AS s4,
       |  SUM(d) AS t0, SUM(d * x) AS t1, SUM(d * x * x) AS t2,
       |  SUM($lySql) AS l0, SUM($lySql * x) AS l1
       | FROM hx GROUP BY 1),
       |coef AS (
       | SELECT ch, nb, $pSql AS p, $qSql AS q,
       |  $c0Sql AS c0, $c1Sql AS c1, $c2Sql AS c2,
       |  $aSql AS a0, $bSql AS b0
       | FROM mom),
       |chi AS (
       | SELECT h.ch, MAX(c.nb) AS nb,
       |  ${chiSql(modLin)} AS chi2_lin,
       |  ${chiSql(modQuad)} AS chi2_quad,
       |  ${chiSql(modExp)} AS chi2_exp
       | FROM hx h JOIN coef c USING (ch) GROUP BY 1),
       |fams AS (
       | SELECT ch, nb, 'bernstein1' AS family, 2 AS n_params, chi2_lin AS chi2 FROM chi
       | UNION ALL
       | SELECT ch, nb, 'chebyshev2', 3, chi2_quad FROM chi
       | UNION ALL
       | SELECT ch, nb, 'explin', 2, chi2_exp FROM chi),
       |scored AS (
       | SELECT ch, family, n_params, nb,
       |  chi2, chi2 / (nb - n_params) AS chi2_dof,
       |  CAST(FLOOR(chi2 / (nb - n_params) * 1000000.0 + 0.5) AS BIGINT) AS cd_micro
       | FROM fams)
       |SELECT ch,
       | ROW_NUMBER() OVER (PARTITION BY ch ORDER BY cd_micro ASC, family ASC) AS rank,
       | family, n_params, CAST(nb AS BIGINT) AS n_bins,
       | CAST(chi2 AS REAL) AS chi2, CAST(chi2_dof AS REAL) AS chi2_dof, cd_micro
       |FROM scored ORDER BY ch, rank""".stripMargin

  // ---- f06: sequential F-test order selection ------------------------------
  // The other half of the background-modeling discipline f05 started:
  // instead of ranking families by raw chi2/dof, walk a NESTED chain
  // const(1) ⊂ linear(2) ⊂ quadratic(3) and at each step accept the
  // extra parameter only if the fit improves significantly — the
  // F-test order selection of the CMS/ATLAS background-function
  // procedure (and the reference's fitter family scan is the min-chi2
  // cousin of it, stage3/fitter.py:36-51). Per step:
  //     F = (chi2_lo − chi2_hi) / (chi2_hi / (nb − p_hi))
  // (one added parameter per step), accepted iff F exceeds the fixed
  // 95% critical value 3.84 (= F(1, n→∞), the Wilks χ²₁ point — a
  // fixed constant, not a p-value integral, so both engines compare
  // exact micro-quantized longs). Selected order = the last accepted
  // step, decided by the standard stop-at-first-rejection walk.
  // Spectrum: the per-priority o_totalprice histogram — smooth and
  // well-modeled (chi2/dof ≈ 1), which is the F-test's valid regime;
  // on a badly-misspecified spectrum (f05's l_extendedprice hump) the
  // inflated residual denominator makes the test conservative and it
  // degenerates to always-const.
  // Scale shape: identical to f05 — ONE corpus aggregation to the
  // ≤100-row per-channel spectrum; moments, Cramer solves, chi2 and
  // the F cascade all ride that table. Zero extra corpus scans.
  private val fCrit = 3.84
  private def f06(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val hist = o
      .select(col("o_orderpriority").as("ch"),
        least(floor(col("o_totalprice") / 25000.0), lit(chi2Bins - 1))
          .cast("long").as("bin"))
      .groupBy(col("ch"), col("bin"))
      .agg(sum(lit(1.0)).as("d"))
      .withColumn("x", expr(xSql))
      .localCheckpoint() // ≤60 rows; feeds moments AND the chi2 pass
    // WEIGHTED normal equations: the minimized objective must be the
    // SAME Σ(d−m)²/w the F-statistic is built from (w = GREATEST(d,1),
    // the chiSql weight), or nesting does not guarantee chi2 decreases
    // and the F-test loses its meaning. The Cramer spellings are
    // generic in the Gram entries, so the weighted fit reuses them
    // verbatim with nb→Σ1/w, s_k→Σx^k/w, t_k→Σd·x^k/w; the bin COUNT
    // rides separately for the dof.
    val mom = hist.groupBy(col("ch")).agg(
      expr("SUM(1.0 / GREATEST(d, 1.0))").as("nb"),
      expr("CAST(COUNT(*) AS DOUBLE)").as("nbins"),
      expr("SUM(x / GREATEST(d, 1.0))").as("s1"),
      expr("SUM(x * x / GREATEST(d, 1.0))").as("s2"),
      expr("SUM(x * x * x / GREATEST(d, 1.0))").as("s3"),
      expr("SUM(x * x * x * x / GREATEST(d, 1.0))").as("s4"),
      expr("SUM(d / GREATEST(d, 1.0))").as("t0"),
      expr("SUM(d * x / GREATEST(d, 1.0))").as("t1"),
      expr("SUM(d * x * x / GREATEST(d, 1.0))").as("t2"))
    val coef = mom.select(col("ch"), col("nbins"),
      expr("t0 / nb").as("cc"),
      expr(pSql).as("p"), expr(qSql).as("q"),
      expr(c0Sql).as("c0"), expr(c1Sql).as("c1"), expr(c2Sql).as("c2"))
    val chi = hist.join(broadcast(coef), "ch")
      .groupBy(col("ch"))
      .agg(max(col("nbins")).as("nb"),
        expr(chiSql("(cc)")).as("chi2_const"),
        expr(chiSql(modLin)).as("chi2_lin"),
        expr(chiSql(modQuad)).as("chi2_quad"))
    // the two F steps + the stop-at-first-rejection selection, in one row
    val sel = chi.select(col("ch"), col("nb").cast("long").as("n_bins"),
      col("chi2_const"), col("chi2_lin"), col("chi2_quad"),
      expr("CAST(FLOOR((chi2_const - chi2_lin) / (chi2_lin / (nb - 2)) " +
        "* 1000000.0 + 0.5) AS BIGINT)").as("f1_micro"),
      expr("CAST(FLOOR((chi2_lin - chi2_quad) / (chi2_quad / (nb - 3)) " +
        "* 1000000.0 + 0.5) AS BIGINT)").as("f2_micro"))
    sel.select(col("ch"), col("n_bins"),
        col("chi2_const").cast("float").as("chi2_const"),
        col("chi2_lin").cast("float").as("chi2_lin"),
        col("chi2_quad").cast("float").as("chi2_quad"),
        col("f1_micro"), col("f2_micro"),
        (col("f1_micro") > lit((fCrit * 1e6).toLong)).cast("int").as("acc1"),
        (col("f2_micro") > lit((fCrit * 1e6).toLong)).cast("int").as("acc2"),
        when(col("f1_micro") <= lit((fCrit * 1e6).toLong), lit("const0"))
          .when(col("f2_micro") <= lit((fCrit * 1e6).toLong), lit("bernstein1"))
          .otherwise(lit("chebyshev2")).as("selected"))
      .orderBy(col("ch"))
  }
  private val f06Sql =
    s"""WITH hist AS (
       | SELECT o_orderpriority AS ch,
       |  LEAST(CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT), ${chi2Bins - 1}) AS bin,
       |  CAST(SUM(1.0) AS DOUBLE) AS d
       | FROM orders GROUP BY 1, 2),
       |hx AS (SELECT *, $xSql AS x FROM hist),
       |mom AS (
       | SELECT ch, SUM(1.0 / GREATEST(d, 1.0)) AS nb,
       |  CAST(COUNT(*) AS DOUBLE) AS nbins,
       |  SUM(x / GREATEST(d, 1.0)) AS s1,
       |  SUM(x * x / GREATEST(d, 1.0)) AS s2,
       |  SUM(x * x * x / GREATEST(d, 1.0)) AS s3,
       |  SUM(x * x * x * x / GREATEST(d, 1.0)) AS s4,
       |  SUM(d / GREATEST(d, 1.0)) AS t0,
       |  SUM(d * x / GREATEST(d, 1.0)) AS t1,
       |  SUM(d * x * x / GREATEST(d, 1.0)) AS t2
       | FROM hx GROUP BY 1),
       |coef AS (
       | SELECT ch, nbins, t0 / nb AS cc, $pSql AS p, $qSql AS q,
       |  $c0Sql AS c0, $c1Sql AS c1, $c2Sql AS c2
       | FROM mom),
       |chi AS (
       | SELECT h.ch, MAX(c.nbins) AS nb,
       |  ${chiSql("(cc)")} AS chi2_const,
       |  ${chiSql(modLin)} AS chi2_lin,
       |  ${chiSql(modQuad)} AS chi2_quad
       | FROM hx h JOIN coef c USING (ch) GROUP BY 1),
       |sel AS (
       | SELECT ch, CAST(nb AS BIGINT) AS n_bins,
       |  chi2_const, chi2_lin, chi2_quad,
       |  CAST(FLOOR((chi2_const - chi2_lin) / (chi2_lin / (nb - 2))
       |       * 1000000.0 + 0.5) AS BIGINT) AS f1_micro,
       |  CAST(FLOOR((chi2_lin - chi2_quad) / (chi2_quad / (nb - 3))
       |       * 1000000.0 + 0.5) AS BIGINT) AS f2_micro
       | FROM chi)
       |SELECT ch, n_bins,
       | CAST(chi2_const AS REAL) AS chi2_const,
       | CAST(chi2_lin AS REAL) AS chi2_lin,
       | CAST(chi2_quad AS REAL) AS chi2_quad,
       | f1_micro, f2_micro,
       | CAST(f1_micro > ${(fCrit * 1e6).toLong} AS INT) AS acc1,
       | CAST(f2_micro > ${(fCrit * 1e6).toLong} AS INT) AS acc2,
       | CASE WHEN f1_micro <= ${(fCrit * 1e6).toLong} THEN 'const0'
       |      WHEN f2_micro <= ${(fCrit * 1e6).toLong} THEN 'bernstein1'
       |      ELSE 'chebyshev2' END AS selected
       |FROM sel ORDER BY ch""".stripMargin


  // ---- f07: bwZredux line-shape grid scan (the reference's ACTUAL pdf) ----
  // The reference's background model for the dimuon-mass fit is the
  // "perturbed exponential times Breit-Wigner" bwZredux pdf
  // (stage3/fit_models.py:86-105):
  //   shape(x; a1, a2, a3) = exp(a2*(x/100) + a3*(x/100)^2) * 2.5
  //                          / ((x - 91.2)^a1 + (2.5/2)^a1)
  // with a1 in [0.7, 2.1], a2 in [0.30, 0.62], a3 in [-0.40, -0.12]
  // (the RooRealVar ranges). SURVEY scopes RooFit's minimizer
  // out-of-engine; the engine-side split here is the binned chi2 GRID
  // SCAN over those ranges — the deterministic discretization of the
  // same objective: 5x5x5 parameter candidates x 40 mass bins, each
  // candidate's pdf normalized over the window, chi2 against the
  // histogram, best three ranked. Scale: the data appears ONLY through
  // the one-scan 40-bin histogram; the 5000-row (candidate x bin)
  // shape table is data-independent column math on a broadcast-sized
  // frame, so a 100 TB sample costs one scan + a 40-row reduce.
  // Determinism: shape nano-quantizes per (candidate, bin) BEFORE the
  // norm fold (exact integer norm; expected counts are then identical
  // divisions), chi2 terms micro-quantize before the candidate fold,
  // rank ties break on candidate id. The shape formula is ONE shared
  // SQL text (E-notation literals — plain decimals parse DECIMAL in
  // both engines and decimal division truncates).
  private val f07A1 = Seq(0.7, 1.05, 1.39, 1.75, 2.1)
  private val f07A2 = Seq(0.30, 0.38, 0.46, 0.54, 0.62)
  private val f07A3 = Seq(-0.40, -0.33, -0.26, -0.19, -0.12)
  private val f07Shape =
    "(exp(a2 * (xc / 100.0E0) + a3 * (xc / 100.0E0) * (xc / 100.0E0)) * 2.5E0" +
      " / (power(xc - 91.2E0, a1) + power(1.25E0, a1)))"
  private def f07ParamsSql: String =
    (for {
      (a1, i) <- f07A1.zipWithIndex
      (a2, j) <- f07A2.zipWithIndex
      (a3, k) <- f07A3.zipWithIndex
    } yield s"(${(i * f07A2.size + j) * f07A3.size + k}, ${a1}E0, ${a2}E0, ${a3}E0)")
      .mkString(", ")
  private def f07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = (for {
      (a1, i) <- f07A1.zipWithIndex
      (a2, j) <- f07A2.zipWithIndex
      (a3, k) <- f07A3.zipWithIndex
    } yield ((i * f07A2.size + j) * f07A3.size + k, a1, a2, a3)).toDF("pid", "a1", "a2", "a3")
    // the data side: one scan -> 40-bin mass histogram on [110, 150)
    val hist = rd(s, dir, "lineitem")
      .select(expr("110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0").as("m"))
      .select(expr("CAST(FLOOR(m - 110.0E0) AS INT)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
    // candidate x bin shape table (data-independent, 5000 rows)
    val bins = (0 until 40).map(b => (b, 110.5 + b)).toDF("bin", "xc")
    val shapes = params.crossJoin(bins)
      .withColumn("s_q", expr(s"CAST(FLOOR($f07Shape * 1e9 + 0.5) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    val withNorm = shapes
      .withColumn("norm_q", sum(col("s_q")).over(w))
      .join(hist, Seq("bin"))
      .withColumn("n_tot", sum(col("n_b")).over(w))
    val term = expr(
      "CAST(FLOOR(" +
        "power(CAST(n_b AS DOUBLE) - CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)), 2.0E0)" +
        " / (CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)))" +
        " * 1e6 + 0.5) AS BIGINT)")
    val chi2 = withNorm
      .select(col("pid"), col("a1"), col("a2"), col("a3"), term.as("tq"))
      .groupBy(col("pid"), col("a1"), col("a2"), col("a3"))
      .agg(sum(col("tq")).as("chi2_micro"))
    chi2
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro"), col("pid"))))
      .filter(col("rank") <= 3)
      .select(col("rank"), col("pid"),
        col("a1").cast("float").as("a1"),
        col("a2").cast("float").as("a2"),
        col("a3").cast("float").as("a3"),
        col("chi2_micro"))
      .orderBy(col("rank"))
  }
  private lazy val f07Sql =
    s"""WITH params(pid, a1, a2, a3) AS (VALUES $f07ParamsSql),
       |bins AS (
       | SELECT b AS bin, 110.5E0 + b AS xc
       | FROM (SELECT unnest(generate_series(0, 39)) AS b)),
       |hist AS (
       | SELECT CAST(FLOOR(m - 110.0E0) AS INT) AS bin, COUNT(*) AS n_b
       | FROM (SELECT 110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0 AS m
       |       FROM lineitem)
       | GROUP BY 1),
       |shapes AS (
       | SELECT p.pid, p.a1, p.a2, p.a3, b.bin,
       |  CAST(FLOOR($f07Shape * 1e9 + 0.5) AS BIGINT) AS s_q
       | FROM params p, bins b),
       |shapes2 AS (
       | SELECT *, SUM(s_q) OVER (PARTITION BY pid) AS norm_q FROM shapes),
       |wn AS (
       | SELECT s.*, h.n_b,
       |  SUM(h.n_b) OVER (PARTITION BY s.pid) AS n_tot
       | FROM shapes2 s JOIN hist h USING (bin)),
       |chi AS (
       | SELECT pid, a1, a2, a3,
       |  CAST(SUM(CAST(FLOOR(
       |   power(CAST(n_b AS DOUBLE) - CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)), 2.0E0)
       |   / (CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)))
       |   * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS chi2_micro
       | FROM wn GROUP BY 1, 2, 3, 4)
       |SELECT rank, pid, CAST(a1 AS REAL) AS a1, CAST(a2 AS REAL) AS a2,
       | CAST(a3 AS REAL) AS a3, chi2_micro
       |FROM (
       | SELECT *, ROW_NUMBER() OVER (ORDER BY chi2_micro, pid) AS rank
       | FROM chi)
       |WHERE rank <= 3 ORDER BY rank""".stripMargin


  // ---- f08: double Crystal Ball signal-shape grid scan ----------------------
  // The reference's SIGNAL model is RooDoubleCB (stage3/fit_models.py:
  // 384-392): a Gaussian core with power-law tails on both sides,
  //   t = (x - mean) / sigma
  //   core  : exp(-t^2/2)                        for -a1 < t < a2
  //   left  : A1 * (B1 - t)^(-n1)                for t <= -a1
  //   right : A2 * (B2 + t)^(-n2)                for t >=  a2
  //   A_i = (n_i/a_i)^{n_i} e^{-a_i^2/2},  B_i = n_i/a_i - a_i
  // Tail parameters pinned at the reference's inits (alpha=2, n=1.5 both
  // sides); the scan covers the RooRealVar (mean, sigma) ranges
  // [120, 130] x (0, 5]. Same machinery as f07: 25 candidates x 40
  // bins, shape nano-quantized before the exact-integer norm, chi2
  // micro-quantized, best-3 ranked — one data scan regardless of
  // sample size. The piecewise shape is ONE shared CASE text with
  // E-notation constants (A/B spelled as arithmetic over the same
  // literals so both engines compute identical doubles).
  private val f08Mean = Seq(120.0, 122.5, 125.0, 127.5, 130.0)
  private val f08Sigma = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
  private val f08Shape = {
    // a = 2, n = 1.5 both sides: A = power(0.75, 1.5) * exp(-2), B = -1.25
    val t = "((xc - mu) / sg)"
    val A = "(power(0.75E0, 1.5E0) * exp(-2.0E0))"
    val B = "(0.75E0 - 2.0E0)"
    s"(CASE WHEN $t <= -2.0E0 THEN $A * power($B - $t, -1.5E0) " +
      s"WHEN $t >= 2.0E0 THEN $A * power($B + $t, -1.5E0) " +
      s"ELSE exp(-($t * $t) / 2.0E0) END)"
  }
  private def f08ParamsSql: String =
    (for {
      (mu, i) <- f08Mean.zipWithIndex
      (sg, j) <- f08Sigma.zipWithIndex
    } yield s"(${i * 5 + j}, ${mu}E0, ${sg}E0)").mkString(", ")
  private def f08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = (for {
      (mu, i) <- f08Mean.zipWithIndex
      (sg, j) <- f08Sigma.zipWithIndex
    } yield (i * 5 + j, mu, sg)).toDF("pid", "mu", "sg")
    val hist = rd(s, dir, "lineitem")
      .select(expr("110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0").as("m"))
      .select(expr("CAST(FLOOR(m - 110.0E0) AS INT)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
    val bins = (0 until 40).map(b => (b, 110.5 + b)).toDF("bin", "xc")
    val shapes = params.crossJoin(bins)
      .withColumn("s_q", expr(s"CAST(FLOOR($f08Shape * 1e9 + 0.5) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    val withNorm = shapes
      .withColumn("norm_q", sum(col("s_q")).over(w))
      .join(hist, Seq("bin"))
      .withColumn("n_tot", sum(col("n_b")).over(w))
    val term = expr(
      "CAST(FLOOR(" +
        "power(CAST(n_b AS DOUBLE) - CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)), 2.0E0)" +
        " / (CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)))" +
        " * 1e6 + 0.5) AS BIGINT)")
    withNorm
      .select(col("pid"), col("mu"), col("sg"), term.as("tq"))
      .groupBy(col("pid"), col("mu"), col("sg"))
      .agg(sum(col("tq")).as("chi2_micro"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro"), col("pid"))))
      .filter(col("rank") <= 3)
      .select(col("rank"), col("pid"),
        col("mu").cast("float").as("mean"),
        col("sg").cast("float").as("sigma"),
        col("chi2_micro"))
      .orderBy(col("rank"))
  }
  private lazy val f08Sql =
    s"""WITH params(pid, mu, sg) AS (VALUES $f08ParamsSql),
       |bins AS (
       | SELECT b AS bin, 110.5E0 + b AS xc
       | FROM (SELECT unnest(generate_series(0, 39)) AS b)),
       |hist AS (
       | SELECT CAST(FLOOR(m - 110.0E0) AS INT) AS bin, COUNT(*) AS n_b
       | FROM (SELECT 110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0 AS m
       |       FROM lineitem)
       | GROUP BY 1),
       |shapes AS (
       | SELECT p.pid, p.mu, p.sg, b.bin,
       |  CAST(FLOOR($f08Shape * 1e9 + 0.5) AS BIGINT) AS s_q
       | FROM params p, bins b),
       |shapes2 AS (
       | SELECT *, SUM(s_q) OVER (PARTITION BY pid) AS norm_q FROM shapes),
       |wn AS (
       | SELECT s.*, h.n_b,
       |  SUM(h.n_b) OVER (PARTITION BY s.pid) AS n_tot
       | FROM shapes2 s JOIN hist h USING (bin)),
       |chi AS (
       | SELECT pid, mu, sg,
       |  CAST(SUM(CAST(FLOOR(
       |   power(CAST(n_b AS DOUBLE) - CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)), 2.0E0)
       |   / (CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)))
       |   * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS chi2_micro
       | FROM wn GROUP BY 1, 2, 3)
       |SELECT rank, pid, CAST(mu AS REAL) AS mean, CAST(sg AS REAL) AS sigma,
       | chi2_micro
       |FROM (
       | SELECT *, ROW_NUMBER() OVER (ORDER BY chi2_micro, pid) AS rank
       | FROM chi)
       |WHERE rank <= 3 ORDER BY rank""".stripMargin

  // ---- f09: bwGamma photon line-shape grid scan -----------------------------
  // The reference's photon-contribution background pdf
  // (stage3/fit_models.py:20-26, RooGenericPdf "exp(@0*@1)*pow(@0,-2)"):
  // a falling 1/x² photon propagator scaled by an exponential. One free
  // parameter, expParam, with RooRealVar range [-0.1, 0.1] — scanned
  // over 125 grid points spelled from integers ((pid − 62)/620, exact
  // on both engines). Same machinery as f07/f08: shape quantized at 1e15 (the 1/x² photon shape spans ~1e-11..3e2 over the grid, so the f07/f08 nano quantum would underflow the falling tail to s_q = 0)
  // before the exact-integer norm, chi2 micro-quantized, best-3 ranked;
  // one data scan regardless of sample size.
  private val f09Shape = "(exp(xc * ep) * power(xc, -2.0E0))"
  private def f09ParamsSql: String =
    (0 until 125).map(k => s"($k, CAST($k - 62 AS DOUBLE) / 620.0E0)")
      .mkString(", ")
  private def f09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = (0 until 125).map(k => (k, (k - 62).toDouble / 620.0))
      .toDF("pid", "ep")
    val hist = rd(s, dir, "lineitem")
      .select(expr("110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0").as("m"))
      .select(expr("CAST(FLOOR(m - 110.0E0) AS INT)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
    val bins = (0 until 40).map(b => (b, 110.5 + b)).toDF("bin", "xc")
    val shapes = params.crossJoin(bins)
      .withColumn("s_q", expr(s"CAST(FLOOR($f09Shape * 1e15 + 0.5) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    val withNorm = shapes
      .withColumn("norm_q", sum(col("s_q")).over(w))
      .join(hist, Seq("bin"))
      .withColumn("n_tot", sum(col("n_b")).over(w))
    withNorm
      .select(col("pid"), col("ep"), chi2Term.as("tq"))
      .groupBy(col("pid"), col("ep"))
      .agg(sum(col("tq")).as("chi2_micro"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro"), col("pid"))))
      .filter(col("rank") <= 3)
      .select(col("rank"), col("pid"),
        col("ep").cast("float").as("exp_param"),
        col("chi2_micro"))
      .orderBy(col("rank"))
  }
  private lazy val f09Sql =
    s"""WITH params(pid, ep) AS (VALUES $f09ParamsSql),
       |bins AS (
       | SELECT b AS bin, 110.5E0 + b AS xc
       | FROM (SELECT unnest(generate_series(0, 39)) AS b)),
       |hist AS (
       | SELECT CAST(FLOOR(m - 110.0E0) AS INT) AS bin, COUNT(*) AS n_b
       | FROM (SELECT 110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0 AS m
       |       FROM lineitem)
       | GROUP BY 1),
       |shapes AS (
       | SELECT p.pid, p.ep, b.bin,
       |  CAST(FLOOR($f09Shape * 1e15 + 0.5) AS BIGINT) AS s_q
       | FROM params p, bins b),
       |shapes2 AS (
       | SELECT *, SUM(s_q) OVER (PARTITION BY pid) AS norm_q FROM shapes),
       |wn AS (
       | SELECT s.*, h.n_b,
       |  SUM(h.n_b) OVER (PARTITION BY s.pid) AS n_tot
       | FROM shapes2 s JOIN hist h USING (bin)),
       |chi AS (
       | SELECT pid, ep, $chi2SumSql AS chi2_micro
       | FROM wn GROUP BY 1, 2)
       |SELECT rank, pid, CAST(ep AS REAL) AS exp_param, chi2_micro
       |FROM (
       | SELECT *, ROW_NUMBER() OVER (ORDER BY chi2_micro, pid) AS rank
       | FROM chi)
       |WHERE rank <= 3 ORDER BY rank""".stripMargin

  // ---- f10: Bernstein background-shape grid scan ----------------------------
  // The reference's polynomial background family (stage3/fit_models.py:
  // 181-194, RooBernstein order 5): s(t) = Σ c_i·C(4,i)·t^i·(1−t)^{4−i}
  // on t = (x − 110)/40 ∈ (0, 1). RooRealVar inits are c_i = 1/2^i; the
  // scan covers {½·, 1·, 2·} the init for c1..c4 (81 candidates, c0
  // pinned at 1 — overall scale is absorbed by the normalization, so
  // scanning it would only produce chi2 ties). Same quantize/norm/rank
  // machinery as f07-f09.
  private val f10Grid: Seq[(Int, Double, Double, Double, Double)] = {
    val opts = (1 to 4).map(i => Seq(0.5, 1.0, 2.0).map(_ / math.pow(2.0, i)))
    for {
      (c1, i) <- opts(0).zipWithIndex
      (c2, j) <- opts(1).zipWithIndex
      (c3, k) <- opts(2).zipWithIndex
      (c4, l) <- opts(3).zipWithIndex
    } yield (i * 27 + j * 9 + k * 3 + l, c1, c2, c3, c4)
  }
  private val f10Shape = {
    val t = "((xc - 110.0E0) / 40.0E0)"
    val u = s"(1.0E0 - $t)"
    s"(1.0E0 * $u*$u*$u*$u + c1 * 4.0E0 * $t * $u*$u*$u" +
      s" + c2 * 6.0E0 * $t*$t * $u*$u + c3 * 4.0E0 * $t*$t*$t * $u" +
      s" + c4 * $t*$t*$t*$t)"
  }
  private def f10ParamsSql: String =
    f10Grid.map { case (pid, c1, c2, c3, c4) =>
      s"($pid, ${c1}E0, ${c2}E0, ${c3}E0, ${c4}E0)"
    }.mkString(", ")
  private def f10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = f10Grid.toDF("pid", "c1", "c2", "c3", "c4")
    val hist = rd(s, dir, "lineitem")
      .select(expr("110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0").as("m"))
      .select(expr("CAST(FLOOR(m - 110.0E0) AS INT)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
    val bins = (0 until 40).map(b => (b, 110.5 + b)).toDF("bin", "xc")
    val shapes = params.crossJoin(bins)
      .withColumn("s_q", expr(s"CAST(FLOOR($f10Shape * 1e9 + 0.5) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    val withNorm = shapes
      .withColumn("norm_q", sum(col("s_q")).over(w))
      .join(hist, Seq("bin"))
      .withColumn("n_tot", sum(col("n_b")).over(w))
    withNorm
      .select(col("pid"), col("c1"), col("c2"), col("c3"), col("c4"),
        chi2Term.as("tq"))
      .groupBy(col("pid"), col("c1"), col("c2"), col("c3"), col("c4"))
      .agg(sum(col("tq")).as("chi2_micro"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro"), col("pid"))))
      .filter(col("rank") <= 3)
      .select(col("rank"), col("pid"),
        col("c1").cast("float").as("c1"),
        col("c2").cast("float").as("c2"),
        col("c3").cast("float").as("c3"),
        col("c4").cast("float").as("c4"),
        col("chi2_micro"))
      .orderBy(col("rank"))
  }
  private lazy val f10Sql =
    s"""WITH params(pid, c1, c2, c3, c4) AS (VALUES $f10ParamsSql),
       |bins AS (
       | SELECT b AS bin, 110.5E0 + b AS xc
       | FROM (SELECT unnest(generate_series(0, 39)) AS b)),
       |hist AS (
       | SELECT CAST(FLOOR(m - 110.0E0) AS INT) AS bin, COUNT(*) AS n_b
       | FROM (SELECT 110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0 AS m
       |       FROM lineitem)
       | GROUP BY 1),
       |shapes AS (
       | SELECT p.pid, p.c1, p.c2, p.c3, p.c4, b.bin,
       |  CAST(FLOOR($f10Shape * 1e9 + 0.5) AS BIGINT) AS s_q
       | FROM params p, bins b),
       |shapes2 AS (
       | SELECT *, SUM(s_q) OVER (PARTITION BY pid) AS norm_q FROM shapes),
       |wn AS (
       | SELECT s.*, h.n_b,
       |  SUM(h.n_b) OVER (PARTITION BY s.pid) AS n_tot
       | FROM shapes2 s JOIN hist h USING (bin)),
       |chi AS (
       | SELECT pid, c1, c2, c3, c4, $chi2SumSql AS chi2_micro
       | FROM wn GROUP BY 1, 2, 3, 4, 5)
       |SELECT rank, pid, CAST(c1 AS REAL) AS c1, CAST(c2 AS REAL) AS c2,
       | CAST(c3 AS REAL) AS c3, CAST(c4 AS REAL) AS c4, chi2_micro
       |FROM (
       | SELECT *, ROW_NUMBER() OVER (ORDER BY chi2_micro, pid) AS rank
       | FROM chi)
       |WHERE rank <= 3 ORDER BY rank""".stripMargin

  /** The shared chi2 term/fold of the f07-f10 grid scans: Pearson chi2
    * against the normalized expected count, micro-quantized BEFORE the
    * per-candidate sum so the fold is order-free on both engines. */
  private lazy val chi2Term: org.apache.spark.sql.Column = expr(
    "CAST(FLOOR(" +
      "power(CAST(n_b AS DOUBLE) - CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)), 2.0E0)" +
      " / (CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)))" +
      " * 1e6 + 0.5) AS BIGINT)")
  private val chi2SumSql =
    """CAST(SUM(CAST(FLOOR(
      |   power(CAST(n_b AS DOUBLE) - CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)), 2.0E0)
      |   / (CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE)))
      |   * 1e6 + 0.5) AS BIGINT)) AS BIGINT)""".stripMargin

  /** Shared skeleton of the 1-table pdf grid scans (f09-f14): VALUES
    * param grid × 40-bin shape table, nano/chosen-quantum s_q, exact-
    * integer norm over ALL bins pre-join, n_tot post-join, chi2 micro-
    * quantized, best-3. `shapeSql` references the param columns and
    * `xc`; `quantum` is the s_q scale (shapes far from O(1) need a
    * bigger one — see f09). */
  private def gridScan(s: SparkSession, dir: String,
      paramDf: DataFrame, paramCols: Seq[String], shapeSql: String,
      quantum: String, outCols: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    val hist = rd(s, dir, "lineitem")
      .select(expr("110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0").as("m"))
      .select(expr("CAST(FLOOR(m - 110.0E0) AS INT)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
    val bins = (0 until 40).map(b => (b, 110.5 + b)).toDF("bin", "xc")
    val shapes = paramDf.crossJoin(bins)
      .withColumn("s_q", expr(s"CAST(FLOOR($shapeSql * $quantum + 0.5) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    val withNorm = shapes
      .withColumn("norm_q", sum(col("s_q")).over(w))
      .join(hist, Seq("bin"))
      .withColumn("n_tot", sum(col("n_b")).over(w))
    val keys = "pid" +: paramCols
    withNorm
      .select((keys.map(col) :+ chi2Term.as("tq")): _*)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("tq")).as("chi2_micro"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro"), col("pid"))))
      .filter(col("rank") <= 3)
      .select((Seq(col("rank"), col("pid")) ++
        outCols.map { case (in, out) => col(in).cast("float").as(out) } :+
        col("chi2_micro")): _*)
      .orderBy(col("rank"))
  }

  /** Oracle twin of [[gridScan]]. */
  private def gridScanSql(paramsDecl: String, paramsSql: String,
      paramCols: Seq[String], shapeSql: String, quantum: String,
      outCols: Seq[(String, String)]): String = {
    val pcols = paramCols.map("p." + _).mkString(", ")
    val gcols = (2 to paramCols.size + 1).mkString(", ")
    val outs = outCols.map { case (in, out) => s"CAST($in AS REAL) AS $out" }
      .mkString(", ")
    s"""WITH params($paramsDecl) AS (VALUES $paramsSql),
       |bins AS (
       | SELECT b AS bin, 110.5E0 + b AS xc
       | FROM (SELECT unnest(generate_series(0, 39)) AS b)),
       |hist AS (
       | SELECT CAST(FLOOR(m - 110.0E0) AS INT) AS bin, COUNT(*) AS n_b
       | FROM (SELECT 110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0 AS m
       |       FROM lineitem)
       | GROUP BY 1),
       |shapes AS (
       | SELECT p.pid, $pcols, b.bin,
       |  CAST(FLOOR($shapeSql * $quantum + 0.5) AS BIGINT) AS s_q
       | FROM params p, bins b),
       |shapes2 AS (
       | SELECT *, SUM(s_q) OVER (PARTITION BY pid) AS norm_q FROM shapes),
       |wn AS (
       | SELECT s.*, h.n_b,
       |  SUM(h.n_b) OVER (PARTITION BY s.pid) AS n_tot
       | FROM shapes2 s JOIN hist h USING (bin)),
       |chi AS (
       | SELECT pid, ${paramCols.mkString(", ")}, $chi2SumSql AS chi2_micro
       | FROM wn GROUP BY 1, $gcols)
       |SELECT rank, pid, $outs, chi2_micro
       |FROM (
       | SELECT *, ROW_NUMBER() OVER (ORDER BY chi2_micro, pid) AS rank
       | FROM chi)
       |WHERE rank <= 3 ORDER BY rank""".stripMargin
  }

  // ---- f11: bwZ line-shape grid scan ----------------------------------------
  // stage3/fit_models.py:33-47 (RooGenericPdf
  // "exp(@0*@3)*(@2)/(pow(@0-@1,2)+0.25*pow(@2,2))"): the plain
  // Breit-Wigner Z tail, width/mZ pinned constant at 2.5/91.2 (the
  // reference setConstant's both), expParam the one free parameter with
  // RooRealVar range [-0.01, 0.01] — 125 grid points from integers.
  private val f11Shape =
    "(exp(xc * ep) * 2.5E0 / (power(xc - 91.2E0, 2.0E0) + 0.25E0 * power(2.5E0, 2.0E0)))"
  private def f11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = (0 until 125).map(k => (k, (k - 62).toDouble / 6200.0))
      .toDF("pid", "ep")
    gridScan(s, dir, params, Seq("ep"), f11Shape, "1e9",
      Seq("ep" -> "exp_param"))
  }
  private lazy val f11Sql = gridScanSql("pid, ep",
    (0 until 125).map(k => s"($k, CAST($k - 62 AS DOUBLE) / 6200.0E0)")
      .mkString(", "),
    Seq("ep"), f11Shape, "1e9", Seq("ep" -> "exp_param"))

  // ---- f12: Chebyshev(7) background-shape grid scan --------------------------
  // stage3/fit_models.py:162-175 (RooChebychev order 7):
  // pdf(t) = 1 + Σ_{i=0..6} c_i·T_{i+1}(t) on t = (x−130)/20 ∈ [−1,1].
  // The scan varies the three leading coefficients around the 1/2^{i+1}
  // inits (±); the trailing four stay pinned at their inits. Σ|c_i| <1
  // over the whole grid, so the pdf stays positive and s_q > 0.
  private val f12T: Seq[String] = {
    val t = "((xc - 130.0E0) / 20.0E0)"
    // T_k via the recurrence T_k = 2t·T_{k−1} − T_{k−2}, spelled as one
    // shared text so both engines parse identical trees
    val ts = scala.collection.mutable.ArrayBuffer("1.0E0", t)
    while (ts.size < 8) ts += s"(2.0E0 * $t * ${ts.last} - ${ts(ts.size - 2)})"
    ts.drop(1).toSeq // T1..T7
  }
  private val f12Fixed = Seq(0.0625, 0.03125, 0.015625, 0.0078125) // c3..c6
  private val f12Grid: Seq[(Int, Double, Double, Double)] = for {
    (c0, i) <- Seq(-0.5, -0.25, 0.0, 0.25, 0.5).zipWithIndex
    (c1, j) <- Seq(-0.25, 0.0, 0.25).zipWithIndex
    (c2, k) <- Seq(-0.125, 0.0, 0.125).zipWithIndex
  } yield (i * 9 + j * 3 + k, c0, c1, c2)
  private val f12Shape = {
    val lead = Seq("c0", "c1", "c2").zip(f12T.take(3))
      .map { case (c, tk) => s"$c * $tk" }
    val fixed = f12Fixed.zip(f12T.drop(3))
      .map { case (c, tk) => s"${c}E0 * $tk" }
    s"(1.0E0 + ${(lead ++ fixed).mkString(" + ")})"
  }
  private def f12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = f12Grid.toDF("pid", "c0", "c1", "c2")
    gridScan(s, dir, params, Seq("c0", "c1", "c2"), f12Shape, "1e9",
      Seq("c0" -> "c0", "c1" -> "c1", "c2" -> "c2"))
  }
  private lazy val f12Sql = gridScanSql("pid, c0, c1, c2",
    f12Grid.map { case (p, a, b, c) => s"($p, ${a}E0, ${b}E0, ${c}E0)" }
      .mkString(", "),
    Seq("c0", "c1", "c2"), f12Shape, "1e9",
    Seq("c0" -> "c0", "c1" -> "c1", "c2" -> "c2"))

  // ---- f14: h2mupoly(5) grid scan --------------------------------------------
  // stage3/fit_models.py:200-224: Σ_i c_i²·((160−x)/50)^i with c0² the
  // constant term — positive by construction (squared coefficients), the
  // H→μμ-specific falling polynomial. c0 pinned at 1 (scale is absorbed
  // by the normalization); c1..c4 scan {½,1,2}× their 1/2^i inits.
  private val f14Shape = {
    val u = "((160.0E0 - xc) / 50.0E0)"
    s"(1.0E0 + c1*c1 * $u + c2*c2 * $u*$u + c3*c3 * $u*$u*$u" +
      s" + c4*c4 * $u*$u*$u*$u)"
  }
  private def f14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = f10Grid.toDF("pid", "c1", "c2", "c3", "c4")
    gridScan(s, dir, params, Seq("c1", "c2", "c3", "c4"), f14Shape, "1e9",
      Seq("c1" -> "c1", "c2" -> "c2", "c3" -> "c3", "c4" -> "c4"))
  }
  private lazy val f14Sql = gridScanSql("pid, c1, c2, c3, c4",
    f10ParamsSql, Seq("c1", "c2", "c3", "c4"), f14Shape, "1e9",
    Seq("c1" -> "c1", "c2" -> "c2", "c3" -> "c3", "c4" -> "c4"))

  // ---- f13: bwZGamma two-component mixture grid scan -------------------------
  // stage3/fit_models.py:52-82 (RooAddPdf of bwExpMmumu and
  // phoExpMmumu): RooAddPdf normalizes EACH component pdf before
  // mixing, so the replay carries TWO exact-integer norms — the
  // expected fraction per bin is mix·(s_bw/N_bw) + (1−mix)·(s_pho/N_pho)
  // — and the chi2 compares n_b against n_tot times that double. The
  // scan covers the two free RooRealVars: expParam (shared by both
  // components) in its [−0.0073, −0.0033] range and mixParam in
  // [0.2, 1]; widthZ/mZ stay pinned (setConstant) at 2.5/91.2.
  private val f13BwShape =
    "(exp(xc * ep) * 2.5E0 / (power(xc - 91.2E0, 2.0E0) + 0.25E0 * power(2.5E0, 2.0E0)))"
  private val f13PhoShape = "(exp(xc * ep) * power(xc, -2.0E0))"
  private val f13Frac =
    "(mix * (CAST(sb_q AS DOUBLE) / CAST(nb_q AS DOUBLE))" +
      " + (1.0E0 - mix) * (CAST(sp_q AS DOUBLE) / CAST(np_q AS DOUBLE)))"
  private val f13ChiTermSql =
    "CAST(FLOOR(" +
      s"power(CAST(n_b AS DOUBLE) - CAST(n_tot AS DOUBLE) * $f13Frac, 2.0E0)" +
      s" / (CAST(n_tot AS DOUBLE) * $f13Frac)" +
      " * 1e6 + 0.5) AS BIGINT)"
  private def f13ParamsSql: String =
    (for (i <- 0 until 11; j <- 0 until 11) yield
      s"(${i * 11 + j}, -0.0073E0 + $i * 0.0004E0, 0.2E0 + $j * 0.08E0)")
      .mkString(", ")
  private def f13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = (for (i <- 0 until 11; j <- 0 until 11) yield
      (i * 11 + j, -0.0073 + i * 0.0004, 0.2 + j * 0.08))
      .toDF("pid", "ep", "mix")
    val hist = rd(s, dir, "lineitem")
      .select(expr("110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0").as("m"))
      .select(expr("CAST(FLOOR(m - 110.0E0) AS INT)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
    val bins = (0 until 40).map(b => (b, 110.5 + b)).toDF("bin", "xc")
    val shapes = params.crossJoin(bins)
      .withColumn("sb_q", expr(s"CAST(FLOOR($f13BwShape * 1e9 + 0.5) AS BIGINT)"))
      .withColumn("sp_q", expr(s"CAST(FLOOR($f13PhoShape * 1e9 + 0.5) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    val withNorm = shapes
      .withColumn("nb_q", sum(col("sb_q")).over(w))
      .withColumn("np_q", sum(col("sp_q")).over(w))
      .join(hist, Seq("bin"))
      .withColumn("n_tot", sum(col("n_b")).over(w))
    withNorm
      .select(col("pid"), col("ep"), col("mix"), expr(f13ChiTermSql).as("tq"))
      .groupBy(col("pid"), col("ep"), col("mix"))
      .agg(sum(col("tq")).as("chi2_micro"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro"), col("pid"))))
      .filter(col("rank") <= 3)
      .select(col("rank"), col("pid"),
        col("ep").cast("float").as("exp_param"),
        col("mix").cast("float").as("mix_param"),
        col("chi2_micro"))
      .orderBy(col("rank"))
  }
  private lazy val f13Sql =
    s"""WITH params(pid, ep, mix) AS (VALUES $f13ParamsSql),
       |bins AS (
       | SELECT b AS bin, 110.5E0 + b AS xc
       | FROM (SELECT unnest(generate_series(0, 39)) AS b)),
       |hist AS (
       | SELECT CAST(FLOOR(m - 110.0E0) AS INT) AS bin, COUNT(*) AS n_b
       | FROM (SELECT 110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0 AS m
       |       FROM lineitem)
       | GROUP BY 1),
       |shapes AS (
       | SELECT p.pid, p.ep, p.mix, b.bin,
       |  CAST(FLOOR($f13BwShape * 1e9 + 0.5) AS BIGINT) AS sb_q,
       |  CAST(FLOOR($f13PhoShape * 1e9 + 0.5) AS BIGINT) AS sp_q
       | FROM params p, bins b),
       |shapes2 AS (
       | SELECT *,
       |  SUM(sb_q) OVER (PARTITION BY pid) AS nb_q,
       |  SUM(sp_q) OVER (PARTITION BY pid) AS np_q
       | FROM shapes),
       |wn AS (
       | SELECT s.*, h.n_b,
       |  SUM(h.n_b) OVER (PARTITION BY s.pid) AS n_tot
       | FROM shapes2 s JOIN hist h USING (bin)),
       |chi AS (
       | SELECT pid, ep, mix,
       |  CAST(SUM($f13ChiTermSql) AS BIGINT) AS chi2_micro
       | FROM wn GROUP BY 1, 2, 3)
       |SELECT rank, pid, CAST(ep AS REAL) AS exp_param,
       | CAST(mix AS REAL) AS mix_param, chi2_micro
       |FROM (
       | SELECT *, ROW_NUMBER() OVER (ORDER BY chi2_micro, pid) AS rank
       | FROM chi)
       |WHERE rank <= 3 ORDER BY rank""".stripMargin

  // ---- f15: linear background grid scan ---------------------------------
  // stage3/fit_models.py:6-13 (RooGenericPdf "@1*(@0-140)+@2"): the
  // ttbar-shoulder line. Grid stays inside the positive region of the
  // [110,150] window (slope·10+offset > 0 at the right edge).
  private val f15Grid: Seq[(Int, Double, Double)] = for {
    (sl, i) <- Seq(-0.05, -0.1, -0.2, -0.33, -0.66).zipWithIndex
    (of, j) <- Seq(7.5, 15.0, 30.0, 60.0, 120.0).zipWithIndex
  } yield (i * 5 + j, sl, of)
  private val f15Shape = "(sl * (xc - 140.0E0) + of)"
  private def f15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gridScan(s, dir, f15Grid.toDF("pid", "sl", "of"), Seq("sl", "of"),
      f15Shape, "1e9", Seq("sl" -> "slope", "of" -> "offset"))
  }
  private lazy val f15Sql = gridScanSql("pid, sl, of",
    f15Grid.map { case (p, a, b) => s"($p, ${a}E0, ${b}E0)" }.mkString(", "),
    Seq("sl", "of"), f15Shape, "1e9", Seq("sl" -> "slope", "of" -> "offset"))

  // ---- f16: higgsGammaGamma falling-exponential grid scan ----------------
  // stage3/fit_models.py:143-157 (RooExponential over the RooFormulaVar
  // a1·(x/100)+a2·(x/100)²): the hgg-style background. exp spans
  // ~1e-13..1e-2 over the grid, so the 1e15 quantum (f09's reasoning).
  private val f16Grid: Seq[(Int, Double, Double)] = for {
    (a1, i) <- Seq(-2.0, -5.0, -8.0).zipWithIndex
    (a2, j) <- Seq(-2.0, -5.0, -8.0).zipWithIndex
  } yield (i * 3 + j, a1, a2)
  private val f16Shape =
    "(exp(a1 * (xc / 100.0E0) + a2 * (xc / 100.0E0) * (xc / 100.0E0)))"
  private def f16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gridScan(s, dir, f16Grid.toDF("pid", "a1", "a2"), Seq("a1", "a2"),
      f16Shape, "1e15", Seq("a1" -> "a1", "a2" -> "a2"))
  }
  private lazy val f16Sql = gridScanSql("pid, a1, a2",
    f16Grid.map { case (p, a, b) => s"($p, ${a}E0, ${b}E0)" }.mkString(", "),
    Seq("a1", "a2"), f16Shape, "1e15", Seq("a1" -> "a1", "a2" -> "a2"))

  // ---- f17: bwZreduxFixed grid scan --------------------------------------
  // stage3/fit_models.py:112-138: bwZredux with a1/mZ/width pinned
  // (setConstant at 2.0/91.2/2.5) and the perturbation (a2, a3) free in
  // [0,50]×[−50,0] — "exp(@2)*(2.5)/(pow(@0-@3,@1)+pow(@4/2,@1))".
  private val f17Grid: Seq[(Int, Double, Double)] = for {
    (a2, i) <- Seq(0.18, 0.36, 0.72, 1.44, 2.88).zipWithIndex
    (a3, j) <- Seq(-0.18, -0.36, -0.72, -1.44, -2.88).zipWithIndex
  } yield (i * 5 + j, a2, a3)
  private val f17Shape =
    "(exp(a2 * (xc / 100.0E0) + a3 * (xc / 100.0E0) * (xc / 100.0E0))" +
      " * 2.5E0 / (power(xc - 91.2E0, 2.0E0) + power(1.25E0, 2.0E0)))"
  private def f17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gridScan(s, dir, f17Grid.toDF("pid", "a2", "a3"), Seq("a2", "a3"),
      f17Shape, "1e9", Seq("a2" -> "a2", "a3" -> "a3"))
  }
  private lazy val f17Sql = gridScanSql("pid, a2, a3",
    f17Grid.map { case (p, a, b) => s"($p, ${a}E0, ${b}E0)" }.mkString(", "),
    Seq("a2", "a3"), f17Shape, "1e9", Seq("a2" -> "a2", "a3" -> "a3"))

  // ---- f18: h2mupolyf(10) grid scan ---------------------------------------
  // stage3/fit_models.py:227-251: Σ c_i²·sqrt(((160−x)/50)^i) — the
  // sqrt-power ladder variant. c0 pinned (scale absorbed by the norm);
  // c1..c3 scanned, c4..c9 pinned at the 0.5 init.
  private val f18Fixed = (4 until 10).map(_ => 0.5)
  private val f18Grid: Seq[(Int, Double, Double, Double)] = for {
    (c1, i) <- Seq(0.25, 0.5, 1.0).zipWithIndex
    (c2, j) <- Seq(0.25, 0.5, 1.0).zipWithIndex
    (c3, k) <- Seq(0.25, 0.5, 1.0).zipWithIndex
  } yield (i * 9 + j * 3 + k, c1, c2, c3)
  private val f18Shape = {
    val u = "((160.0E0 - xc) / 50.0E0)"
    def pw(i: Int) = s"sqrt(power($u, ${i}.0E0))"
    val scanned = (1 to 3).map(i => s"c$i*c$i * ${pw(i)}")
    val fixed = f18Fixed.zipWithIndex.map { case (c, o) =>
      s"${c}E0 * ${c}E0 * ${pw(o + 4)}" }
    s"(1.0E0 + ${(scanned ++ fixed).mkString(" + ")})"
  }
  private def f18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gridScan(s, dir, f18Grid.toDF("pid", "c1", "c2", "c3"),
      Seq("c1", "c2", "c3"), f18Shape, "1e9",
      Seq("c1" -> "c1", "c2" -> "c2", "c3" -> "c3"))
  }
  private lazy val f18Sql = gridScanSql("pid, c1, c2, c3",
    f18Grid.map { case (p, a, b, c) => s"($p, ${a}E0, ${b}E0, ${c}E0)" }
      .mkString(", "),
    Seq("c1", "c2", "c3"), f18Shape, "1e9",
    Seq("c1" -> "c1", "c2" -> "c2", "c3" -> "c3"))

  // ---- f21: h2mupolypow(6) grid scan --------------------------------------
  // stage3/fit_models.py:254-291: Σ c_o²·u^(o+cos²(b_o)) — power ladder
  // with cos-modulated REAL exponents (the TMath::Power path). c/b init
  // 0.5; the leading (c1, b1) pair scans, the rest stay pinned. cos and
  // pow are libm on both engines; the 1e9 quantize-before-fold absorbs
  // the sub-ulp drift (the f07 non-integer-pow discipline).
  private val f21Grid: Seq[(Int, Double, Double)] = for {
    (c1, i) <- Seq(0.25, 0.5, 1.0).zipWithIndex
    (b1, j) <- Seq(0.0, 0.5, 1.0, 1.5707963267948966).zipWithIndex
  } yield (i * 4 + j, c1, b1)
  private val f21Shape = {
    val u = "((160.0E0 - xc) / 50.0E0)"
    val scanned = s"c1*c1 * power($u, 1.0E0 + cos(b1) * cos(b1))"
    val fixed = (2 until 6).map(o =>
      s"0.25E0 * power($u, ${o}.0E0 + cos(0.5E0) * cos(0.5E0))")
    s"(0.25E0 + $scanned + ${fixed.mkString(" + ")})"
  }
  private def f21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gridScan(s, dir, f21Grid.toDF("pid", "c1", "b1"), Seq("c1", "b1"),
      f21Shape, "1e9", Seq("c1" -> "c1", "b1" -> "b1"))
  }
  private lazy val f21Sql = gridScanSql("pid, c1, b1",
    f21Grid.map { case (p, a, b) => s"($p, ${a}E0, ${b}E0)" }.mkString(", "),
    Seq("c1", "b1"), f21Shape, "1e9", Seq("c1" -> "c1", "b1" -> "b1"))

  // ---- f19: bwZPlusLinear two-component mixture grid scan -----------------
  // stage3/fit_models.py:294-322 (RooAddPdf of bwExpMmumu and
  // linMmumu): f13's per-component-norm machinery over the two FREE
  // RooRealVars once width/mZ are setConstant — expParam [−0.1, 0.1]
  // and mix1 [0, 1] (slope/offset at their −0.2/39 inits keep the line
  // positive on the window). bw spans ~1e-10..2e4 over the exp range,
  // so both components quantize at 1e13 (fits BIGINT with the 40-bin
  // norm; no underflow at the falling edge).
  private val f19BwShape =
    "(exp(xc * ep) * 2.5E0 / (power(xc - 91.2E0, 2.0E0) + 0.25E0 * power(2.5E0, 2.0E0)))"
  private val f19LinShape = "(-0.2E0 * xc + 39.0E0)"
  private val f19Frac =
    "(mix * (CAST(sb_q AS DOUBLE) / CAST(nb_q AS DOUBLE))" +
      " + (1.0E0 - mix) * (CAST(sp_q AS DOUBLE) / CAST(np_q AS DOUBLE)))"
  private val f19ChiTermSql =
    "CAST(FLOOR(" +
      s"power(CAST(n_b AS DOUBLE) - CAST(n_tot AS DOUBLE) * $f19Frac, 2.0E0)" +
      s" / (CAST(n_tot AS DOUBLE) * $f19Frac)" +
      " * 1e6 + 0.5) AS BIGINT)"
  private def f19ParamsSql: String =
    (for (i <- 0 until 11; j <- 0 until 9) yield
      s"(${i * 9 + j}, CAST($i - 5 AS DOUBLE) / 50.0E0, 0.1E0 + $j * 0.1E0)")
      .mkString(", ")
  private def f19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = (for (i <- 0 until 11; j <- 0 until 9) yield
      (i * 9 + j, (i - 5).toDouble / 50.0, 0.1 + j * 0.1))
      .toDF("pid", "ep", "mix")
    val hist = rd(s, dir, "lineitem")
      .select(expr("110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0").as("m"))
      .select(expr("CAST(FLOOR(m - 110.0E0) AS INT)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
    val bins = (0 until 40).map(b => (b, 110.5 + b)).toDF("bin", "xc")
    val shapes = params.crossJoin(bins)
      .withColumn("sb_q", expr(s"CAST(FLOOR($f19BwShape * 1e13 + 0.5) AS BIGINT)"))
      .withColumn("sp_q", expr(s"CAST(FLOOR($f19LinShape * 1e13 + 0.5) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    val withNorm = shapes
      .withColumn("nb_q", sum(col("sb_q")).over(w))
      .withColumn("np_q", sum(col("sp_q")).over(w))
      .join(hist, Seq("bin"))
      .withColumn("n_tot", sum(col("n_b")).over(w))
    withNorm
      .select(col("pid"), col("ep"), col("mix"), expr(f19ChiTermSql).as("tq"))
      .groupBy(col("pid"), col("ep"), col("mix"))
      .agg(sum(col("tq")).as("chi2_micro"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro"), col("pid"))))
      .filter(col("rank") <= 3)
      .select(col("rank"), col("pid"),
        col("ep").cast("float").as("exp_param"),
        col("mix").cast("float").as("mix1"),
        col("chi2_micro"))
      .orderBy(col("rank"))
  }
  private lazy val f19Sql =
    s"""WITH params(pid, ep, mix) AS (VALUES $f19ParamsSql),
       |bins AS (
       | SELECT b AS bin, 110.5E0 + b AS xc
       | FROM (SELECT unnest(generate_series(0, 39)) AS b)),
       |hist AS (
       | SELECT CAST(FLOOR(m - 110.0E0) AS INT) AS bin, COUNT(*) AS n_b
       | FROM (SELECT 110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0 AS m
       |       FROM lineitem)
       | GROUP BY 1),
       |shapes AS (
       | SELECT p.pid, p.ep, p.mix, b.bin,
       |  CAST(FLOOR($f19BwShape * 1e13 + 0.5) AS BIGINT) AS sb_q,
       |  CAST(FLOOR($f19LinShape * 1e13 + 0.5) AS BIGINT) AS sp_q
       | FROM params p, bins b),
       |shapes2 AS (
       | SELECT *,
       |  SUM(sb_q) OVER (PARTITION BY pid) AS nb_q,
       |  SUM(sp_q) OVER (PARTITION BY pid) AS np_q
       | FROM shapes),
       |wn AS (
       | SELECT s.*, h.n_b,
       |  SUM(h.n_b) OVER (PARTITION BY s.pid) AS n_tot
       | FROM shapes2 s JOIN hist h USING (bin)),
       |chi AS (
       | SELECT pid, ep, mix,
       |  CAST(SUM($f19ChiTermSql) AS BIGINT) AS chi2_micro
       | FROM wn GROUP BY 1, 2, 3)
       |SELECT rank, pid, CAST(ep AS REAL) AS exp_param,
       | CAST(mix AS REAL) AS mix1, chi2_micro
       |FROM (
       | SELECT *, ROW_NUMBER() OVER (ORDER BY chi2_micro, pid) AS rank
       | FROM chi)
       |WHERE rank <= 3 ORDER BY rank""".stripMargin

  // ---- f20: bwZGammaPlusLinear THREE-component mixture grid scan ----------
  // stage3/fit_models.py:329-380: RooAddPdf(lin, bwExp, phoExp;
  // mix1, mix2) — non-recursive fractions, so the expected fraction is
  //   mix1·N(lin) + mix2·N(bw) + (1−mix1−mix2)·N(pho),
  // THREE exact-integer component norms. In this variant expParam/mix1/
  // mix2 are setConstant (−0.0053 / 0.10 / 0.39); the free parameters
  // are the line's (slope, offset), scanned inside the window's
  // positive region. All three components quantize at 1e13 (the pho
  // component's exp(−0.0053·x)/x² ≈ 2e-5 floor is comfortably nonzero).
  private val f20BwShape =
    "(exp(xc * -0.0053E0) * 2.5E0 / (power(xc - 91.2E0, 2.0E0) + 0.25E0 * power(2.5E0, 2.0E0)))"
  private val f20PhoShape = "(exp(xc * -0.0053E0) * power(xc, -2.0E0))"
  private val f20LinShape = "(sl * xc + of)"
  private val f20Frac =
    "(0.10E0 * (CAST(sl_q AS DOUBLE) / CAST(nl_q AS DOUBLE))" +
      " + 0.39E0 * (CAST(sb_q AS DOUBLE) / CAST(nb_q AS DOUBLE))" +
      " + (1.0E0 - 0.10E0 - 0.39E0) * (CAST(sp_q AS DOUBLE) / CAST(np_q AS DOUBLE)))"
  private val f20ChiTermSql =
    "CAST(FLOOR(" +
      s"power(CAST(n_b AS DOUBLE) - CAST(n_tot AS DOUBLE) * $f20Frac, 2.0E0)" +
      s" / (CAST(n_tot AS DOUBLE) * $f20Frac)" +
      " * 1e6 + 0.5) AS BIGINT)"
  private val f20Grid: Seq[(Int, Double, Double)] = {
    val g = for {
      (sl, i) <- Seq(-0.05, -0.1, -0.2, -0.4).zipWithIndex
      (of, j) <- Seq(64.0, 80.0, 160.0, 320.0).zipWithIndex
    } yield (i * 4 + j, sl, of)
    // positivity invariant: the linear component must be positive over
    // the whole [110,150] window (sl<0 ⇒ minimum at x=150), otherwise
    // the s/norm chi2 denominator crosses zero and CAST(inf AS BIGINT)
    // clamps in Spark but errors in DuckDB (engine/oracle divergence).
    // Round-11 advice fix: of=39 paired with sl=-0.4 violated this
    // (root at x=97.5) and survived only because the sign was uniform.
    g.foreach { case (_, sl, of) =>
      require(sl * 150.0 + of > 0,
        s"f20 grid point (sl=$sl, of=$of) not positive over the window")
    }
    g
  }
  private def f20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val params = f20Grid.toDF("pid", "sl", "of")
    val hist = rd(s, dir, "lineitem")
      .select(expr("110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0").as("m"))
      .select(expr("CAST(FLOOR(m - 110.0E0) AS INT)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
    val bins = (0 until 40).map(b => (b, 110.5 + b)).toDF("bin", "xc")
    val shapes = params.crossJoin(bins)
      .withColumn("sl_q", expr(s"CAST(FLOOR($f20LinShape * 1e13 + 0.5) AS BIGINT)"))
      .withColumn("sb_q", expr(s"CAST(FLOOR($f20BwShape * 1e13 + 0.5) AS BIGINT)"))
      .withColumn("sp_q", expr(s"CAST(FLOOR($f20PhoShape * 1e13 + 0.5) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    val withNorm = shapes
      .withColumn("nl_q", sum(col("sl_q")).over(w))
      .withColumn("nb_q", sum(col("sb_q")).over(w))
      .withColumn("np_q", sum(col("sp_q")).over(w))
      .join(hist, Seq("bin"))
      .withColumn("n_tot", sum(col("n_b")).over(w))
    withNorm
      .select(col("pid"), col("sl"), col("of"), expr(f20ChiTermSql).as("tq"))
      .groupBy(col("pid"), col("sl"), col("of"))
      .agg(sum(col("tq")).as("chi2_micro"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro"), col("pid"))))
      .filter(col("rank") <= 3)
      .select(col("rank"), col("pid"),
        col("sl").cast("float").as("slope"),
        col("of").cast("float").as("offset"),
        col("chi2_micro"))
      .orderBy(col("rank"))
  }
  private lazy val f20Sql =
    s"""WITH params(pid, sl, of) AS (VALUES ${
        f20Grid.map { case (p, a, b) => s"($p, ${a}E0, ${b}E0)" }.mkString(", ")}),
       |bins AS (
       | SELECT b AS bin, 110.5E0 + b AS xc
       | FROM (SELECT unnest(generate_series(0, 39)) AS b)),
       |hist AS (
       | SELECT CAST(FLOOR(m - 110.0E0) AS INT) AS bin, COUNT(*) AS n_b
       | FROM (SELECT 110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0 AS m
       |       FROM lineitem)
       | GROUP BY 1),
       |shapes AS (
       | SELECT p.pid, p.sl, p.of, b.bin,
       |  CAST(FLOOR($f20LinShape * 1e13 + 0.5) AS BIGINT) AS sl_q,
       |  CAST(FLOOR($f20BwShape * 1e13 + 0.5) AS BIGINT) AS sb_q,
       |  CAST(FLOOR($f20PhoShape * 1e13 + 0.5) AS BIGINT) AS sp_q
       | FROM params p, bins b),
       |shapes2 AS (
       | SELECT *,
       |  SUM(sl_q) OVER (PARTITION BY pid) AS nl_q,
       |  SUM(sb_q) OVER (PARTITION BY pid) AS nb_q,
       |  SUM(sp_q) OVER (PARTITION BY pid) AS np_q
       | FROM shapes),
       |wn AS (
       | SELECT s.*, h.n_b,
       |  SUM(h.n_b) OVER (PARTITION BY s.pid) AS n_tot
       | FROM shapes2 s JOIN hist h USING (bin)),
       |chi AS (
       | SELECT pid, sl, of,
       |  CAST(SUM($f20ChiTermSql) AS BIGINT) AS chi2_micro
       | FROM wn GROUP BY 1, 2, 3)
       |SELECT rank, pid, CAST(sl AS REAL) AS slope,
       | CAST(of AS REAL) AS offset, chi2_micro
       |FROM (
       | SELECT *, ROW_NUMBER() OVER (ORDER BY chi2_micro, pid) AS rank
       | FROM chi)
       |WHERE rank <= 3 ORDER BY rank""".stripMargin

  // ---- f22: cross-family min-chi2 model selection --------------------------
  // The selection step of stage3/fitter.py:36-51: fit the SIX families
  // the reference's Fitter instantiates (fitter.py:74-81 — bwz,
  // bwz_redux, bwgamma, bernstein, dcb, chebyshev), then keep the
  // family with the lowest chi2 (pandas idxmin per group). Engine
  // shape: the 40-bin data histogram is built ONCE and checkpointed;
  // each family's grid-best chi2 comes from its (data-independent)
  // shape table against that one histogram — six families cost one
  // corpus scan. Per-family winner = (min chi2, then min pid);
  // families ranked by their winner's chi2.
  private val f22Families: Seq[(String, String, String, String, String)] = Seq(
    // (family, paramsDecl, paramsSql, shapeSql, quantum)
    ("bwz", "pid, ep", (0 until 125).map(k =>
      s"($k, CAST($k - 62 AS DOUBLE) / 6200.0E0)").mkString(", "),
      f11Shape, "1e9"),
    ("bwz_redux", "pid, a1, a2, a3", f07ParamsSql, f07Shape, "1e9"),
    ("bwgamma", "pid, ep", (0 until 125).map(k =>
      s"($k, CAST($k - 62 AS DOUBLE) / 620.0E0)").mkString(", "),
      f09Shape, "1e15"),
    ("bernstein", "pid, c1, c2, c3, c4", f10ParamsSql, f10Shape, "1e9"),
    ("dcb", "pid, mu, sg", f08ParamsSql, f08Shape, "1e9"),
    ("chebyshev", "pid, c0, c1, c2", f12Grid.map { case (p, a, b, c) =>
      s"($p, ${a}E0, ${b}E0, ${c}E0)" }.mkString(", "), f12Shape, "1e9"))
  private def f22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hist = rd(s, dir, "lineitem")
      .select(expr("110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0").as("m"))
      .select(expr("CAST(FLOOR(m - 110.0E0) AS INT)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
      .localCheckpoint() // one corpus scan feeds all six families
    val bins = (0 until 40).map(b => (b, 110.5 + b)).toDF("bin", "xc")
    val perFamily = f22Families.map { case (fam, decl, paramsSql, shape, quantum) =>
      // params via the SAME literal text as the oracle (one source)
      val cols = decl.split(",").map(_.trim)
      val params = s.sql(
        s"SELECT * FROM VALUES $paramsSql AS t(${cols.mkString(", ")})")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
      val chi = params.crossJoin(bins)
        .withColumn("s_q", expr(s"CAST(FLOOR($shape * $quantum + 0.5) AS BIGINT)"))
        .withColumn("norm_q", sum(col("s_q")).over(w))
        .join(hist, Seq("bin"))
        .withColumn("n_tot", sum(col("n_b")).over(w))
        .select(col("pid"), chi2Term.as("tq"))
        .groupBy(col("pid")).agg(sum(col("tq")).as("chi2_micro"))
      chi.select(lit(fam).as("family"), col("pid"), col("chi2_micro"))
    }
    val all = perFamily.reduce(_ unionAll _)
    val wBest = org.apache.spark.sql.expressions.Window.partitionBy(col("family"))
      .orderBy(col("chi2_micro"), col("pid"))
    all.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro"), col("family"))))
      .select(col("rank"), col("family"), col("pid").as("best_pid"),
        col("chi2_micro"))
      .orderBy(col("rank"))
  }
  private lazy val f22Sql = {
    val famBlocks = f22Families.map { case (fam, decl, paramsSql, shape, quantum) =>
      s"""params_$fam($decl) AS (VALUES $paramsSql),
         |shapes_$fam AS (
         | SELECT p.pid, b.bin,
         |  CAST(FLOOR($shape * $quantum + 0.5) AS BIGINT) AS s_q
         | FROM params_$fam p, bins b),
         |shapes2_$fam AS (
         | SELECT *, SUM(s_q) OVER (PARTITION BY pid) AS norm_q
         | FROM shapes_$fam),
         |chi_$fam AS (
         | SELECT '$fam' AS family, pid, $chi2SumSql AS chi2_micro
         | FROM (
         |  SELECT s.*, h.n_b,
         |   SUM(h.n_b) OVER (PARTITION BY s.pid) AS n_tot
         |  FROM shapes2_$fam s JOIN hist h USING (bin))
         | GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val union = f22Families.map { case (fam, _, _, _, _) =>
      s"SELECT * FROM chi_$fam" }.mkString(" UNION ALL ")
    s"""WITH bins AS (
       | SELECT b AS bin, 110.5E0 + b AS xc
       | FROM (SELECT unnest(generate_series(0, 39)) AS b)),
       |hist AS (
       | SELECT CAST(FLOOR(m - 110.0E0) AS INT) AS bin, COUNT(*) AS n_b
       | FROM (SELECT 110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0 AS m
       |       FROM lineitem)
       | GROUP BY 1),
       |$famBlocks,
       |allfam AS ($union),
       |best AS (
       | SELECT * FROM (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY family ORDER BY chi2_micro, pid) AS rn
       |  FROM allfam)
       | WHERE rn = 1)
       |SELECT ROW_NUMBER() OVER (ORDER BY chi2_micro, family) AS rank,
       | family, pid AS best_pid, chi2_micro
       |FROM best ORDER BY rank""".stripMargin
  }

  // ---- f23: iterated unbinned weighted-NLL fit (the ACTUAL ML fit) --------
  // The one reference capability the grid scans (f07-f21) deliberately
  // discretize away: stage3/fitter.py:160-175 runs RooAbsPdf::fitTo —
  // an ITERATED unbinned maximum-likelihood minimization over the
  // event-level mass column, weighted by the per-event lumi weight
  // (fitter.py:73 `norm = df.lumi_wgt.sum()`; the RooDataSet carries
  // event weights). This is that minimization for the bwZredux family
  // (fit_models.py:86-105), engine-side end to end:
  //
  //   pdf(x; a1, a2) ∝ exp(a2·t + a3f·t²) · 2.5 / ((x−91.2)^a1 + 1.25^a1),
  //   t = x/100, window [110, 150), a3 fixed at −0.30, boxes from the
  //   RooRealVar ranges (a1 ∈ [0.7, 2.1], a2 ∈ [0.30, 0.62]), Newton
  //   start = the RooRealVar inits (1.39, 0.46).
  //
  // Weighted NLL(θ) = −Σᵢ wᵢ·ln pdf(xᵢ; θ). a2 is exponential-family
  // (sufficient statistic Σ wᵢtᵢ, computed ONCE), but a1 sits inside
  // the per-event ln((x−91.2)^a1 + 1.25^a1) term — so every Newton
  // step genuinely needs one corpus aggregation: Σ w·q and Σ w·r with
  // q = ∂a1 lnD, r = ∂²a1 lnD over the cached (x, t, la, w) projection.
  // The window integral N(θ) and its moments come from a fixed 400-
  // point midpoint quadrature — data-independent driver math. Each
  // Newton step is then
  //   g = (Σwq − Sw·E[q],  −Σwt + Sw·E[t])
  //   H = [[Σwr + Sw·(E[q²]−E[r]−E[q]²),  −Sw·(E[tq]−E[t]E[q])],
  //        [·,                             Sw·(E[t²]−E[t]²)]]
  //   θ ← clamp(θ − H⁻¹g)   (6 fixed iterations; converged ~1e-8 by 5,
  //                          final point > 0.05 from every box edge)
  // with the driver holding O(1) state (f03's discipline); the oracle
  // replays every step as chained CTEs re-scanning `ev`. Determinism:
  // every corpus and quadrature sum is FLOOR(v·1e12 + 0.5)-quantized
  // (order-independent integer folds; bounded: |v| ≤ 0.05 per event ⇒
  // < 9.2e18 up to ~1e8 events — at larger scale drop the quantum),
  // outputs cast float32 to absorb JVM-vs-libm exp/pow last-ulp drift.
  // Event weights w = bwZredux shape at (1.8, 0.40, −0.30): the
  // synthetic uniform mass column importance-weighted to an actual
  // falling line shape, so the MLE is interior (≈ (1.873, 0.564)) and
  // the clamp path is exercised exactly once (a2 hits 0.30 on step 1,
  // leaves on step 2) — an all-interior trajectory both engines must
  // reproduce. Cross-check vs f07's discretization: NllCrossCheckSpec
  // asserts the Newton NLL beats the best of f07's 125 grid candidates
  // evaluated on the same weighted NLL objective.
  private val f23A3F = -0.30
  private val f23Iters = 6
  private val f23Quantum = 1e12
  private val f23MassSql = "(110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0)"
  private val f23WSql =
    "(exp(0.40E0 * t - 0.30E0 * t * t) * 2.5E0" +
      " / (power(x - 91.2E0, 1.8E0) + power(1.25E0, 1.8E0)))"
  /** 400-point midpoint quadrature of the pdf moments at (a1, a2):
    * returns (Wq, E[t], E[t²], E[q], E[q²], E[r], E[tq]) with Wq the
    * 1e12-quantized integer mass (lnN = ln(Wq/1e12 · 0.1)). */
  private def f23Quad(a1: Double, a2: Double)
      : (Long, Double, Double, Double, Double, Double, Double) = {
    val lb = math.log(1.25)
    var wS = 0L; var t1S = 0L; var t2S = 0L; var qS = 0L
    var q2S = 0L; var rS = 0L; var tqS = 0L
    def fl(v: Double): Long = math.floor(v * f23Quantum + 0.5).toLong
    var g = 0
    while (g < 400) {
      val x = 110.0 + (g + 0.5) / 10.0
      val t = x / 100.0
      val la = math.log(x - 91.2)
      val a = math.pow(x - 91.2, a1); val b = math.pow(1.25, a1)
      val d = a + b
      val q = (a * la + b * lb) / d
      val r = (a * la * la + b * lb * lb) / d - q * q
      val w = math.exp(a2 * t + f23A3F * t * t) * 2.5 / d
      wS += fl(w); t1S += fl(t * w); t2S += fl(t * t * w); qS += fl(q * w)
      q2S += fl(q * q * w); rS += fl(r * w); tqS += fl(t * q * w)
      g += 1
    }
    val wd = wS.toDouble
    (wS, t1S / wd, t2S / wd, qS / wd, q2S / wd, rS / wd, tqS / wd)
  }
  /** Shared Newton machinery for f23/f25: cached event projection,
    * quantized constants, the per-a1 corpus aggregation closure, and the
    * 6-iteration trajectory from the RooRealVar inits. */
  private final case class F23Fit(const: DataFrame, sw: Double,
      s1w: Double, s2w: Double,
      corpus: Double => (Double, Double, Double), a1: Double, a2: Double)
  private def f23Newton(s: SparkSession, dir: String): F23Fit = {
    val ev = rd(s, dir, "lineitem")
      .select(expr(f23MassSql).as("x"))
      .select(col("x"), expr("x / 100.0E0").as("t"),
        expr("ln(x - 91.2E0)").as("la"))
      .withColumn("w", expr(f23WSql))
      .localCheckpoint() // every Newton round re-reads THIS projection
    val q12 = f23Quantum
    val const = ev.agg(
      count(lit(1)).as("n"),
      sum(expr(s"CAST(FLOOR(w * $q12 + 0.5) AS BIGINT)")).as("swq"),
      sum(expr(s"CAST(FLOOR(w * t * $q12 + 0.5) AS BIGINT)")).as("s1wq"),
      sum(expr(s"CAST(FLOOR(w * t * t * $q12 + 0.5) AS BIGINT)")).as("s2wq"))
      .localCheckpoint()
    val c = const.head()
    val sw = c.getLong(1) / q12
    val s1w = c.getLong(2) / q12
    val s2w = c.getLong(3) / q12
    // one corpus aggregation per Newton step (a1 changes the per-event
    // term); a1 rides in as CAST('…' AS DOUBLE) so the driver double
    // round-trips exactly. REJECTED r15 alternative: a1 as a broadcast
    // 1-row column (to keep generated source iteration-stable and skip
    // the per-step janino compile) — measured SLOWER: the crossJoin
    // added a broadcast job per step (21 → 28 jobs, steady 2.4 → 3.7 s
    // solo); the compile it saves is first-pass-only and smaller.
    def corpus(a1: Double): (Double, Double, Double) = {
      val a1s = s"CAST('$a1' AS DOUBLE)"
      val r = ev
        .withColumn("aa", expr(s"power(x - 91.2E0, $a1s)"))
        .withColumn("bb", expr(s"power(1.25E0, $a1s)"))
        .withColumn("dd", expr("aa + bb"))
        .withColumn("q", expr("(aa * la + bb * ln(1.25E0)) / dd"))
        .withColumn("r", expr(
          "(aa * la * la + bb * ln(1.25E0) * ln(1.25E0)) / dd - q * q"))
        .agg(
          sum(expr(s"CAST(FLOOR(w * q * $q12 + 0.5) AS BIGINT)")).as("sqq"),
          sum(expr(s"CAST(FLOOR(w * r * $q12 + 0.5) AS BIGINT)")).as("srq"),
          sum(expr(s"CAST(FLOOR(w * ln(dd) * $q12 + 0.5) AS BIGINT)")).as("sdq"))
        .head()
      (r.getLong(0) / q12, r.getLong(1) / q12, r.getLong(2) / q12)
    }
    var a1 = 1.39; var a2 = 0.46 // RooRealVar inits, fit_models.py:87-88
    for (_ <- 1 to f23Iters) {
      val (sq, sr, _) = corpus(a1)
      val (_, et, et2, eq, eq2, er, etq) = f23Quad(a1, a2)
      val g1 = sq - sw * eq
      val g2 = -s1w + sw * et
      val h11 = sr + sw * (eq2 - er - eq * eq)
      val h12 = -sw * (etq - et * eq)
      val h22 = sw * (et2 - et * et)
      val det = h11 * h22 - h12 * h12
      a1 = math.min(math.max(a1 - (h22 * g1 - h12 * g2) / det, 0.7), 2.1)
      a2 = math.min(math.max(a2 - (h11 * g2 - h12 * g1) / det, 0.30), 0.62)
    }
    F23Fit(const, sw, s1w, s2w, corpus, a1, a2)
  }
  private def f23(s: SparkSession, dir: String): DataFrame = {
    val f = f23Newton(s, dir)
    val q12 = f23Quantum
    val (_, _, sd) = f.corpus(f.a1)
    val lnN = math.log(f23Quad(f.a1, f.a2)._1 / q12 * 0.1)
    val nllW = (-(f.a2 * f.s1w + f23A3F * f.s2w +
      f.sw * math.log(2.5) - sd) + f.sw * lnN) / f.sw
    f.const.select(col("n").as("n_events"),
      (col("swq") / q12).cast("float").as("eff_n"),
      lit(f.a1).cast("float").as("a1_hat"),
      lit(f.a2).cast("float").as("a2_hat"),
      lit(nllW).cast("float").as("nll_w"))
  }

  // ---- f25: parameter uncertainties for the NLL fit ------------------------
  // fitter.py's RooAbsPdf::fitTo returns parameter ERRORS, not just the
  // point estimate (stage3/fitter.py:160-175; RooFit's HESSE step).
  // Those errors are the square roots of the inverse-Hessian diagonal of
  // the weighted NLL at the optimum — the same H f23's Newton steps
  // already assemble (one corpus aggregation for Σwq/Σwr at â₁ plus the
  // data-independent quadrature moments at θ̂), so the uncertainty costs
  // ONE extra 2×2 invert on the driver:
  //   σ(a1) = √(H₂₂/det), σ(a2) = √(H₁₁/det), ρ = −H₁₂/√(H₁₁H₂₂).
  // NllCrossCheckSpec pins σ against an independent central-finite-
  // difference Hessian of the same objective. Oracle: the f25Sql CTE
  // chain replays the trajectory and evaluates H at it₆ in an st₇ step.
  private def f25(s: SparkSession, dir: String): DataFrame = {
    val f = f23Newton(s, dir)
    val (_, sr, _) = f.corpus(f.a1)
    val (_, et, et2, eq, eq2, er, etq) = f23Quad(f.a1, f.a2)
    val h11 = sr + f.sw * (eq2 - er - eq * eq)
    val h12 = -f.sw * (etq - et * eq)
    val h22 = f.sw * (et2 - et * et)
    val det = h11 * h22 - h12 * h12
    f.const.select(
      lit(f.a1).cast("float").as("a1_hat"),
      lit(f.a2).cast("float").as("a2_hat"),
      lit(math.sqrt(h22 / det)).cast("float").as("sig_a1"),
      lit(math.sqrt(h11 / det)).cast("float").as("sig_a2"),
      lit(-h12 / math.sqrt(h11 * h22)).cast("float").as("rho"))
  }
  /** Linear-reference CTE machinery shared by f23Sql/f25Sql. duckdb 1.0
    * inlines CTEs once PER REFERENCE, and the previous corp/qd/mom/stp
    * spelling referenced it_{k-1} three times per step — the whole
    * prefix re-ran 3^k times (measured: 35 s at sf0.01). Here the event
    * and quadrature streams ride ONE tagged union (evg), so each Newton
    * step is two CTEs (st_k: the quantized aggregates + gradient/Hessian
    * at it_{k-1}; it_k: the clamped update), each referencing its
    * predecessor exactly once (~1 s at sf0.01). Arithmetic is unchanged:
    * the same FLOOR(v*1e12+0.5) integer folds (order-independent, so the
    * union re-grouping cannot move a bit), the same moment divisions,
    * the same update expressions — the trajectory and outputs are
    * bit-identical to the round-11 spelling. */
  private def f23StepSql(k: Int): (String, String) = {
    val q12 = "1e12"
    val lb = "LN(1.25E0)"
    val p = s"it${k - 1}"
    def m(col: String) = s"CAST($col AS DOUBLE) / CAST(wq AS DOUBLE)"
    val st =
      s"""st$k AS (
         | SELECT a1, a2, sw, s1w,
         |  CAST(sqq AS DOUBLE) / $q12 - sw * (${m("qq")}) AS g1,
         |  -s1w + sw * (${m("t1q")}) AS g2,
         |  CAST(srq AS DOUBLE) / $q12
         |    + sw * (${m("q2q")} - ${m("rq")} - (${m("qq")}) * (${m("qq")})) AS h11,
         |  -sw * (${m("tqq")} - (${m("t1q")}) * (${m("qq")})) AS h12,
         |  sw * (${m("t2q")} - (${m("t1q")}) * (${m("t1q")})) AS h22
         | FROM (
         |  SELECT a1, a2, cn.sw, cn.s1w,
         |   SUM(CASE WHEN tag = 'e' THEN CAST(FLOOR(w * q * $q12 + 0.5) AS BIGINT) END) AS sqq,
         |   SUM(CASE WHEN tag = 'e' THEN CAST(FLOOR(w * r * $q12 + 0.5) AS BIGINT) END) AS srq,
         |   SUM(CASE WHEN tag = 'g' THEN CAST(FLOOR(wg * $q12 + 0.5) AS BIGINT) END) AS wq,
         |   SUM(CASE WHEN tag = 'g' THEN CAST(FLOOR(t * wg * $q12 + 0.5) AS BIGINT) END) AS t1q,
         |   SUM(CASE WHEN tag = 'g' THEN CAST(FLOOR(t * t * wg * $q12 + 0.5) AS BIGINT) END) AS t2q,
         |   SUM(CASE WHEN tag = 'g' THEN CAST(FLOOR(q * wg * $q12 + 0.5) AS BIGINT) END) AS qq,
         |   SUM(CASE WHEN tag = 'g' THEN CAST(FLOOR(q * q * wg * $q12 + 0.5) AS BIGINT) END) AS q2q,
         |   SUM(CASE WHEN tag = 'g' THEN CAST(FLOOR(r * wg * $q12 + 0.5) AS BIGINT) END) AS rq,
         |   SUM(CASE WHEN tag = 'g' THEN CAST(FLOOR(t * q * wg * $q12 + 0.5) AS BIGINT) END) AS tqq
         |  FROM (
         |   SELECT tag, t, w, a1, a2,
         |    (aa * la + bb * $lb) / dd AS q,
         |    (aa * la * la + bb * $lb * $lb) / dd
         |      - ((aa * la + bb * $lb) / dd) * ((aa * la + bb * $lb) / dd) AS r,
         |    exp(a2 * t + -0.30E0 * t * t) * 2.5E0 / dd AS wg
         |   FROM (
         |    SELECT u.tag, u.x, u.t, u.la, u.w, i.a1, i.a2,
         |     power(u.x - 91.2E0, i.a1) AS aa,
         |     power(1.25E0, i.a1) AS bb,
         |     power(u.x - 91.2E0, i.a1) + power(1.25E0, i.a1) AS dd
         |    FROM evg u, $p i)) rows0
         |  CROSS JOIN cn
         |  GROUP BY a1, a2, cn.sw, cn.s1w) agg$k)"""
    val it =
      s"""it$k AS (
         | SELECT
         |  LEAST(GREATEST(a1 - (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12), 0.7E0), 2.1E0) AS a1,
         |  LEAST(GREATEST(a2 - (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12), 0.30E0), 0.62E0) AS a2
         | FROM st$k)"""
    (st, it)
  }
  private def f23SqlPrefix(fullSteps: Int, extraSt: Boolean): String = {
    val q12 = "1e12"
    val blocks = (1 to fullSteps).flatMap { k =>
      val (st, it) = f23StepSql(k); Seq(st, it)
    } ++ (if (extraSt) Seq(f23StepSql(fullSteps + 1)._1) else Nil)
    s"""WITH ev AS (
       | SELECT x, t, la,
       |  exp(0.40E0 * t - 0.30E0 * t * t) * 2.5E0
       |   / (power(x - 91.2E0, 1.8E0) + power(1.25E0, 1.8E0)) AS w
       | FROM (SELECT m AS x, m / 100.0E0 AS t, LN(m - 91.2E0) AS la
       |       FROM (SELECT $f23MassSql AS m FROM lineitem))),
       |const AS (
       | SELECT COUNT(*) AS n,
       |  CAST(SUM(CAST(FLOOR(w * $q12 + 0.5) AS BIGINT)) AS BIGINT) AS swq,
       |  CAST(SUM(CAST(FLOOR(w * t * $q12 + 0.5) AS BIGINT)) AS BIGINT) AS s1wq,
       |  CAST(SUM(CAST(FLOOR(w * t * t * $q12 + 0.5) AS BIGINT)) AS BIGINT) AS s2wq
       | FROM ev),
       |cn AS (
       | SELECT CAST(swq AS DOUBLE) / $q12 AS sw,
       |        CAST(s1wq AS DOUBLE) / $q12 AS s1w,
       |        CAST(s2wq AS DOUBLE) / $q12 AS s2w
       | FROM const),
       |grid AS (
       | SELECT x, x / 100.0E0 AS t, LN(x - 91.2E0) AS la FROM (
       |  SELECT 110.0E0 + (CAST(g AS DOUBLE) + 0.5E0) / 10.0E0 AS x
       |  FROM (SELECT unnest(generate_series(0, 399)) AS g))),
       |evg AS (
       | SELECT 'e' AS tag, x, t, la, w FROM ev
       | UNION ALL SELECT 'g', x, t, la, 0.0E0 FROM grid),
       |it0 AS (SELECT CAST(1.39E0 AS DOUBLE) AS a1, CAST(0.46E0 AS DOUBLE) AS a2),
       |${blocks.mkString(",\n")}""".stripMargin
  }
  private lazy val f23Sql = {
    val q12 = "1e12"
    s"""${f23SqlPrefix(f23Iters, extraSt = false)},
       |fin AS (
       | SELECT i.a1, i.a2,
       |  SUM(CASE WHEN u.tag = 'e' THEN CAST(FLOOR(u.w * LN(power(u.x - 91.2E0, i.a1) + power(1.25E0, i.a1)) * $q12 + 0.5) AS BIGINT) END) AS sdq,
       |  SUM(CASE WHEN u.tag = 'g' THEN CAST(FLOOR(exp(i.a2 * u.t + -0.30E0 * u.t * u.t) * 2.5E0 / (power(u.x - 91.2E0, i.a1) + power(1.25E0, i.a1)) * $q12 + 0.5) AS BIGINT) END) AS wq
       | FROM evg u, it$f23Iters i GROUP BY 1, 2)
       |SELECT const.n AS n_events,
       | CAST(CAST(swq AS DOUBLE) / $q12 AS REAL) AS eff_n,
       | CAST(f.a1 AS REAL) AS a1_hat,
       | CAST(f.a2 AS REAL) AS a2_hat,
       | CAST((-(f.a2 * cn.s1w + -0.30E0 * cn.s2w + cn.sw * LN(2.5E0)
       |         - CAST(f.sdq AS DOUBLE) / $q12)
       |       + cn.sw * LN(CAST(f.wq AS DOUBLE) / $q12 * 0.1E0)) / cn.sw AS REAL) AS nll_w
       |FROM const, cn, fin f""".stripMargin
  }
  private lazy val f25Sql =
    s"""${f23SqlPrefix(f23Iters, extraSt = true)}
       |SELECT CAST(a1 AS REAL) AS a1_hat, CAST(a2 AS REAL) AS a2_hat,
       | CAST(SQRT(h22 / (h11 * h22 - h12 * h12)) AS REAL) AS sig_a1,
       | CAST(SQRT(h11 / (h11 * h22 - h12 * h12)) AS REAL) AS sig_a2,
       | CAST(-h12 / SQRT(h11 * h22) AS REAL) AS rho
       |FROM st${f23Iters + 1}""".stripMargin

  // ---- f24: fit frame + pull table (the data behind fit_plots.py) ---------
  // stage3/fit_plots.py:28-55 + :213-232 draws each fitted model's
  // window-normalized curve over the data at RooFit.Binning(80), then a
  // pull pad (xframe.pullHist()). The ROOT canvas is out-of-engine per
  // SURVEY; THIS is the table behind it: for each of f22's six
  // families, the per-family grid winner's expected curve on the
  // 80-bin frame, the binned-data overlay, and the per-bin pull
  // (data − curve)/√data — pullHist's symmetric-Poisson form. ONE
  // corpus scan: the 80-bin histogram is built once and the 40-bin
  // chi2-selection histogram derives from it by bin pairing (FLOOR(2v)
  // div 2 = FLOOR(v) on v ≥ 0), so winner selection replays f22
  // exactly without a second pass. Families ranked by winner chi2
  // (f22's order); 6 × 80 rows out. PlotSvg.renderFit draws the panel.
  private def f24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wPid = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
    val hist80 = rd(s, dir, "lineitem")
      .select(expr("110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0").as("m"))
      .select(expr("CAST(FLOOR((m - 110.0E0) * 2.0E0) AS INT)").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
      .localCheckpoint() // the one corpus scan; both binnings derive
    val hist40 = hist80.select(expr("bin div 2").as("bin"), col("n_b"))
      .groupBy(col("bin")).agg(sum(col("n_b")).as("n_b"))
    val bins40 = (0 until 40).map(b => (b, 110.5 + b)).toDF("bin", "xc")
    val bins80 = (0 until 80).map(b => (b, 110.25 + 0.5 * b)).toDF("bin", "xc")
    val perFamily = f22Families.map { case (fam, decl, paramsSql, shape, quantum) =>
      val cols = decl.split(",").map(_.trim)
      val params = s.sql(
        s"SELECT * FROM VALUES $paramsSql AS t(${cols.mkString(", ")})")
      val best = params.crossJoin(bins40)
        .withColumn("s_q", expr(s"CAST(FLOOR($shape * $quantum + 0.5) AS BIGINT)"))
        .withColumn("norm_q", sum(col("s_q")).over(wPid))
        .join(hist40, Seq("bin"))
        .withColumn("n_tot", sum(col("n_b")).over(wPid))
        .select(col("pid"), chi2Term.as("tq"))
        .groupBy(col("pid")).agg(sum(col("tq")).as("chi2_micro"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("chi2_micro"), col("pid"))))
        .filter(col("rn") === 1)
        .select(col("pid"), col("chi2_micro"))
      params.join(broadcast(best), "pid")
        .crossJoin(bins80)
        .withColumn("s_q", expr(s"CAST(FLOOR($shape * $quantum + 0.5) AS BIGINT)"))
        .withColumn("norm_q", sum(col("s_q")).over(wPid)) // over ALL 80 bins, pre-join
        .join(hist80, Seq("bin"))
        .withColumn("n_tot", sum(col("n_b")).over(wPid))
        .withColumn("e", expr(
          "CAST(n_tot AS DOUBLE) * (CAST(s_q AS DOUBLE) / CAST(norm_q AS DOUBLE))"))
        .select(lit(fam).as("family"), col("chi2_micro"), col("bin"),
          col("xc"), col("n_b"),
          col("e").cast("float").as("e_fit"),
          expr("CAST((CAST(n_b AS DOUBLE) - e)" +
            " / sqrt(GREATEST(CAST(n_b AS DOUBLE), 1.0E0)) AS FLOAT)").as("pull"))
    }
    perFamily.reduce(_ unionAll _)
      .withColumn("rank", dense_rank().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("chi2_micro"), col("family"))))
      .select(col("rank"), col("family"), col("bin"), col("xc"),
        col("n_b"), col("e_fit"), col("pull"), col("chi2_micro"))
      .orderBy(col("rank"), col("bin"))
  }
  private lazy val f24Sql = {
    val famBlocks = f22Families.map { case (fam, decl, paramsSql, shape, quantum) =>
      s"""params_$fam($decl) AS (VALUES $paramsSql),
         |chi_$fam AS (
         | SELECT pid, $chi2SumSql AS chi2_micro
         | FROM (
         |  SELECT s.*, h.n_b, SUM(h.n_b) OVER (PARTITION BY s.pid) AS n_tot
         |  FROM (
         |   SELECT *, SUM(s_q) OVER (PARTITION BY pid) AS norm_q
         |   FROM (
         |    SELECT p.pid, b.bin, b.xc,
         |     CAST(FLOOR($shape * $quantum + 0.5) AS BIGINT) AS s_q
         |    FROM params_$fam p, bins40 b)) s JOIN hist40 h USING (bin))
         | GROUP BY 1),
         |best_$fam AS (
         | SELECT pid, chi2_micro FROM (
         |  SELECT *, ROW_NUMBER() OVER (ORDER BY chi2_micro, pid) AS rn
         |  FROM chi_$fam)
         | WHERE rn = 1),
         |cur_$fam AS (
         | SELECT '$fam' AS family, w.chi2_micro, s.bin, s.xc, h.n_b,
         |  CAST(SUM(h.n_b) OVER () AS DOUBLE)
         |   * (CAST(s.s_q AS DOUBLE) / CAST(s.norm_q AS DOUBLE)) AS e
         | FROM (
         |  SELECT *, SUM(s_q) OVER () AS norm_q
         |  FROM (
         |   SELECT p.pid, b.bin, b.xc,
         |    CAST(FLOOR($shape * $quantum + 0.5) AS BIGINT) AS s_q
         |   FROM params_$fam p, best_$fam w0, bins80 b
         |   WHERE p.pid = w0.pid)) s
         |  JOIN hist80 h USING (bin), best_$fam w)""".stripMargin
    }.mkString(",\n")
    val union = f22Families.map { case (fam, _, _, _, _) =>
      s"SELECT * FROM cur_$fam" }.mkString(" UNION ALL ")
    s"""WITH hist80 AS (
       | SELECT CAST(FLOOR((m - 110.0E0) * 2.0E0) AS INT) AS bin, COUNT(*) AS n_b
       | FROM (SELECT 110.0E0 + (l_extendedprice % 4000.0E0) / 100.0E0 AS m
       |       FROM lineitem)
       | GROUP BY 1),
       |hist40 AS (
       | SELECT bin // 2 AS bin, CAST(SUM(n_b) AS BIGINT) AS n_b
       | FROM hist80 GROUP BY 1),
       |bins40 AS (
       | SELECT b AS bin, 110.5E0 + b AS xc
       | FROM (SELECT unnest(generate_series(0, 39)) AS b)),
       |bins80 AS (
       | SELECT b AS bin, 110.25E0 + 0.5E0 * b AS xc
       | FROM (SELECT unnest(generate_series(0, 79)) AS b)),
       |$famBlocks,
       |allcur AS ($union)
       |SELECT DENSE_RANK() OVER (ORDER BY chi2_micro, family) AS rank,
       | family, bin, xc, n_b,
       | CAST(e AS REAL) AS e_fit,
       | CAST((CAST(n_b AS DOUBLE) - e) / sqrt(GREATEST(CAST(n_b AS DOUBLE), 1.0E0)) AS REAL) AS pull,
       | chi2_micro
       |FROM allcur ORDER BY rank, bin""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f24_fit_frame_pulls" -> (f24 _),
    "f23_nll_newton_fit" -> (f23 _),
    "f25_nll_fit_errors" -> (f25 _),
    "f22_family_selection" -> (f22 _),
    "f20_bwzgl_mix_scan" -> (f20 _),
    "f19_bwzl_mix_scan" -> (f19 _),
    "f21_h2mupolypow_scan" -> (f21 _),
    "f18_h2mupolyf_scan" -> (f18 _),
    "f17_bwzredux_fixed_scan" -> (f17 _),
    "f16_hgg_exp_scan" -> (f16 _),
    "f15_linear_scan" -> (f15 _),
    "f14_h2mupoly_scan" -> (f14 _),
    "f13_bwzgamma_scan" -> (f13 _),
    "f12_chebyshev_scan" -> (f12 _),
    "f11_bwz_scan" -> (f11 _),
    "f10_bernstein_scan" -> (f10 _),
    "f09_bwgamma_scan" -> (f09 _),
    "f08_doublecb_scan" -> (f08 _),
    "f07_bwzredux_scan" -> (f07 _),
    "f06_ftest_selection" -> (f06 _),
    "f01_em_mixture_fit" -> (f01 _),
    "f02_chi2_template_fit" -> (f02 _),
    "f03_profile_significance" -> (f03 _),
    "f04_impact_ranking" -> (f04 _),
    "f05_pdf_selection" -> (f05 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "f24_fit_frame_pulls" -> f24Sql,
    "f23_nll_newton_fit" -> f23Sql,
    "f25_nll_fit_errors" -> f25Sql,
    "f22_family_selection" -> f22Sql,
    "f20_bwzgl_mix_scan" -> f20Sql,
    "f19_bwzl_mix_scan" -> f19Sql,
    "f21_h2mupolypow_scan" -> f21Sql,
    "f18_h2mupolyf_scan" -> f18Sql,
    "f17_bwzredux_fixed_scan" -> f17Sql,
    "f16_hgg_exp_scan" -> f16Sql,
    "f15_linear_scan" -> f15Sql,
    "f14_h2mupoly_scan" -> f14Sql,
    "f13_bwzgamma_scan" -> f13Sql,
    "f12_chebyshev_scan" -> f12Sql,
    "f11_bwz_scan" -> f11Sql,
    "f10_bernstein_scan" -> f10Sql,
    "f09_bwgamma_scan" -> f09Sql,
    "f08_doublecb_scan" -> f08Sql,
    "f07_bwzredux_scan" -> f07Sql,
    "f06_ftest_selection" -> f06Sql,
    "f01_em_mixture_fit" -> f01Sql,
    "f02_chi2_template_fit" -> f02Sql,
    "f03_profile_significance" -> f03Sql,
    "f04_impact_ranking" -> f04Sql,
    "f05_pdf_selection" -> f05Sql
  ).view
}
