package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-curation operators for training-data pipelines: cardinality
  * sketching, lightweight quality classification, stratified sampling,
  * and converged duplicate-graph clustering.
  *
  * The common scale constraints: per-group state is bounded (the KMV
  * sketch carries ≤ k longs per group through the shuffle), per-doc
  * scoring is a single codegen projection (no explode, no join), the
  * sampler is a stateless hash filter, and the only iterative operator
  * checkpoints every round and stops on a data-dependent fixpoint
  * check — the three shapes (bounded sketch / stateless projection /
  * checkpointed iteration) that survive a 1000-executor 100 TB run.
  */
object CurationQueries extends QueryFamily {

  private val P = 2147483647L // 2^31 - 1

  /** Knuth-multiplicative mix shared with the dedup/sketch families —
    * identical arithmetic on both engines. */
  private def mix(h: String) = s"((($h) % $P) * 2654435761) % $P"

  // ---- k04: KMV distinct-count sketch ------------------------------------
  // Distinct (user, behavior-bucket) pairs per event type via the
  // k-minimum-values sketch (native kmv_minima aggregate): the buffer is
  // k=64 longs per group no matter how many rows stream through, merge
  // is union-and-trim, so map-side partial aggregation reduces every
  // partition before the exchange — the scale contrast to exact
  // COUNT(DISTINCT), whose per-group state is unbounded. The estimator
  // (k-1)·M / h_k and the exact count ride along so the result is its
  // own accuracy report. Mirrors the reference's per-dataset cardinality
  // summaries (stage1 pre-scan sample tables) as a sketch.
  private val kmvK = 64
  private val kmvKey =
    s"user_id * 1024 + ((CAST(floor(value * 10) AS BIGINT) % 1024 + 1024) % 1024)"
  private def k04(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
    e.groupBy(col("event_type"))
      .agg(
        expr(s"kmv_minima(${mix(kmvKey)}, $kmvK)").as("mins"),
        countDistinct(expr(kmvKey)).as("n_exact"))
      .select(col("event_type"), col("n_exact"),
        size(col("mins")).cast("long").as("n_minima"),
        when(size(col("mins")) < kmvK, size(col("mins")).cast("double"))
          .otherwise(expr(s"(63.0 * 2147483647) / element_at(mins, $kmvK)"))
          .cast("float").as("est_distinct"))
      .orderBy(col("event_type"))
  }
  private val k04Sql =
    s"""WITH h AS (
       | SELECT DISTINCT event_type, ${mix(kmvKey)} AS hv FROM events),
       |r AS (SELECT event_type, hv,
       |       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
       |      FROM h),
       |ex AS (SELECT event_type, COUNT(DISTINCT $kmvKey) AS n_exact
       |       FROM events GROUP BY 1),
       |sk AS (SELECT event_type,
       |        CAST(COUNT(CASE WHEN rn <= $kmvK THEN 1 END) AS BIGINT) AS n_minima,
       |        MAX(CASE WHEN rn = $kmvK THEN hv END) AS kth
       |       FROM r GROUP BY 1)
       |SELECT ex.event_type, ex.n_exact, sk.n_minima,
       | CAST(CASE WHEN sk.n_minima < $kmvK THEN sk.n_minima
       |           ELSE (63.0 * 2147483647) / sk.kth END AS REAL) AS est_distinct
       |FROM ex JOIN sk USING (event_type) ORDER BY 1""".stripMargin

  // ---- k05: KMV sketch set algebra (union / intersection estimates) -------
  // Why sketches beat exact distinct at 100 TB is not the single count —
  // it is the ALGEBRA: two k-long minima arrays answer union and
  // intersection cardinality questions without touching the data again.
  // Union sketch = k smallest of the merged distinct minima (exactly
  // the KMV of the union); intersection uses the theta-sketch rule
  // (Dasgupta et al.): with θ = min(θ_A, θ_B), every common minimum
  // below θ is a uniform sample of A∩B, so est = |{x ∈ A∩B : x < θ}|·M/θ.
  // Exact counts ride along from one extra grouped pass for the
  // accuracy report. All sketch math is integer arithmetic + one
  // division — bit-identical across engines.
  private val kmvTypeA = "click"; private val kmvTypeB = "purchase"
  private def k05(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
    val keyed = e.filter(col("event_type").isin(kmvTypeA, kmvTypeB))
      .select(col("event_type"), expr(kmvKey).as("k"), expr(mix(kmvKey)).as("hv"))
      .localCheckpoint() // feeds the sketch build AND the exact pass
    val sk = keyed.groupBy(col("event_type"))
      .agg(expr(s"kmv_minima(hv, $kmvK)").as("mins"))
    val a = sk.filter(col("event_type") === kmvTypeA).select(col("mins").as("am"))
    val b = sk.filter(col("event_type") === kmvTypeB).select(col("mins").as("bm"))
    val ex = keyed.groupBy(col("k"))
      .agg(max(when(col("event_type") === kmvTypeA, 1).otherwise(0)).as("ina"),
        max(when(col("event_type") === kmvTypeB, 1).otherwise(0)).as("inb"))
      .agg(org.apache.spark.sql.functions.sum(col("ina")).as("n_exact_a"),
        org.apache.spark.sql.functions.sum(col("inb")).as("n_exact_b"),
        count(lit(1)).as("n_exact_union"),
        org.apache.spark.sql.functions.sum(col("ina") * col("inb")).as("n_exact_inter"))
    a.crossJoin(b).crossJoin(ex)
      .withColumn("um", expr(s"slice(array_sort(array_union(am, bm)), 1, $kmvK)"))
      .withColumn("theta_a", expr(s"IF(size(am) < $kmvK, CAST($P AS BIGINT), element_at(am, $kmvK))"))
      .withColumn("theta_b", expr(s"IF(size(bm) < $kmvK, CAST($P AS BIGINT), element_at(bm, $kmvK))"))
      .withColumn("theta", least(col("theta_a"), col("theta_b")))
      .withColumn("n_common", expr("size(filter(array_intersect(am, bm), x -> x < theta))"))
      .select(col("n_exact_a"), col("n_exact_b"), col("n_exact_union"),
        col("n_exact_inter"),
        expr(s"IF(size(am) < $kmvK, CAST(size(am) AS DOUBLE), (63.0 * $P) / element_at(am, $kmvK))")
          .cast("float").as("est_a"),
        expr(s"IF(size(bm) < $kmvK, CAST(size(bm) AS DOUBLE), (63.0 * $P) / element_at(bm, $kmvK))")
          .cast("float").as("est_b"),
        expr(s"IF(size(um) < $kmvK, CAST(size(um) AS DOUBLE), (63.0 * $P) / element_at(um, $kmvK))")
          .cast("float").as("est_union"),
        (col("n_common") * (lit(P).cast("double") / col("theta")))
          .cast("float").as("est_inter"))
  }
  private val k05Sql = {
    val estOf = (m: String) =>
      s"CASE WHEN len($m) < $kmvK THEN CAST(len($m) AS DOUBLE) ELSE (63.0 * $P) / $m[$kmvK] END"
    s"""WITH keyed AS (
       | SELECT event_type, $kmvKey AS k, ${mix(kmvKey)} AS hv FROM events
       | WHERE event_type IN ('$kmvTypeA', '$kmvTypeB')),
       |mins AS (
       | SELECT event_type, list_sort(list_distinct(list(hv)))[1:$kmvK] AS m
       | FROM (SELECT DISTINCT event_type, hv FROM keyed) GROUP BY 1),
       |a AS (SELECT m AS am FROM mins WHERE event_type = '$kmvTypeA'),
       |b AS (SELECT m AS bm FROM mins WHERE event_type = '$kmvTypeB'),
       |ex AS (
       | SELECT CAST(SUM(ina) AS BIGINT) AS n_exact_a,
       |  CAST(SUM(inb) AS BIGINT) AS n_exact_b,
       |  COUNT(*) AS n_exact_union,
       |  CAST(SUM(ina * inb) AS BIGINT) AS n_exact_inter
       | FROM (SELECT k, MAX(CASE WHEN event_type = '$kmvTypeA' THEN 1 ELSE 0 END) AS ina,
       |        MAX(CASE WHEN event_type = '$kmvTypeB' THEN 1 ELSE 0 END) AS inb
       |       FROM keyed GROUP BY 1)),
       |alg AS (
       | SELECT am, bm,
       |  list_sort(list_distinct(list_concat(am, bm)))[1:$kmvK] AS um,
       |  LEAST(CASE WHEN len(am) < $kmvK THEN CAST($P AS BIGINT) ELSE am[$kmvK] END,
       |        CASE WHEN len(bm) < $kmvK THEN CAST($P AS BIGINT) ELSE bm[$kmvK] END) AS theta
       | FROM a CROSS JOIN b)
       |SELECT ex.n_exact_a, ex.n_exact_b, ex.n_exact_union, ex.n_exact_inter,
       | CAST(${estOf("am")} AS REAL) AS est_a,
       | CAST(${estOf("bm")} AS REAL) AS est_b,
       | CAST(${estOf("um")} AS REAL) AS est_union,
       | CAST(len(list_filter(list_intersect(am, bm), x -> x < theta))
       |      * (CAST($P AS DOUBLE) / theta) AS REAL) AS est_inter
       |FROM alg CROSS JOIN ex""".stripMargin
  }

  // ---- t13: hashed-feature linear quality classifier ----------------------
  // The fasttext-style filter every web-scale curation pipeline runs
  // (hash tokens into F buckets, average the bucket weights, sigmoid):
  // one codegen projection per document — tokenize, hash each token
  // (base-31 Horner mod P, then Knuth mix — the repo's cross-engine hash
  // family), index a 64-entry literal weight vector, left-fold the sum.
  // No explode, no join, no shuffle: at 100 TB this is scan-speed. The
  // label decision uses the raw score sign (exact rational arithmetic,
  // same fold order both engines); the sigmoid probability is reported
  // milli-quantized (floor(p*1000 + 0.5)) because exp() is libm-specific
  // — the repo's established cross-engine convention for transcendentals.
  private val nFeat = 64
  private val clsBias = "0.1"
  private val clsWeights: IndexedSeq[String] = (0 until nFeat).map { i =>
    val v = (((i.toLong * 2654435761L) % P) % 2001L - 1000L) / 1000.0
    f"$v%.3f"
  }
  private def t13(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val wArr = clsWeights.map(_ + "D").mkString("array(", ", ", ")")
    val tokHash =
      s"aggregate(sequence(1, length(tk)), CAST(0 AS BIGINT), " +
        s"(h, i) -> (h * 31 + ascii(substr(tk, i, 1))) % $P)"
    val bucket = s"CAST(((${tokHash} * 2654435761) % $P) % $nFeat AS INT)"
    d.withColumn("toks", expr("filter(split(text, ' '), tk -> length(tk) > 0)"))
      .withColumn("score_raw", expr(
        s"aggregate(toks, CAST(0 AS DOUBLE), (acc, tk) -> acc + element_at($wArr, $bucket + 1))"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("score",
        (col("score_raw") / greatest(col("n_tokens"), lit(1L)) + expr(clsBias)))
      .select(col("doc_id"), col("n_tokens"),
        col("score").cast("float").as("score"),
        expr("CAST(floor(1.0 / (1.0 + exp(-score)) * 1000 + 0.5) AS BIGINT)").as("prob_milli"),
        (col("score") > 0.0).as("keep"))
      .orderBy(col("doc_id"))
  }
  private val t13Sql = {
    val wArr = clsWeights.mkString("[", ", ", "]")
    val tokHash =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(tk)), i -> CAST(ascii(substr(tk, i, 1)) AS BIGINT))), " +
        s"(h, c) -> (h * 31 + c) % $P)"
    val bucket = s"CAST((($tokHash * 2654435761) % $P) % $nFeat AS INTEGER)"
    s"""WITH toks AS (
       | SELECT doc_id, list_filter(string_split(text, ' '), tk -> length(tk) > 0) AS tk_list
       | FROM documents),
       |scored AS (
       | SELECT doc_id, CAST(len(tk_list) AS BIGINT) AS n_tokens,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(tk_list, tk -> ($wArr)[$bucket + 1])),
       |   (acc, x) -> acc + x) AS score_raw
       | FROM toks)
       |SELECT doc_id, n_tokens,
       | CAST(score_raw / GREATEST(n_tokens, 1) + $clsBias AS REAL) AS score,
       | CAST(floor(1.0 / (1.0 + exp(-(score_raw / GREATEST(n_tokens, 1) + $clsBias))) * 1000 + 0.5) AS BIGINT) AS prob_milli,
       | score_raw / GREATEST(n_tokens, 1) + $clsBias > 0.0 AS keep
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ---- t28: k-anonymity / l-diversity profile -----------------------------
  // Privacy audit of a training table before release (Sweeney,
  // "k-anonymity: a model for protecting privacy", 2002; Machanavajjhala
  // et al., "l-diversity", 2007 — both public). Quasi-identifier =
  // (c_nationkey, c_mktsegment); sensitive attribute = the account-
  // balance band. One hash-shuffle groupBy on the QI tuple produces the
  // equivalence classes; class size = the k each row enjoys, distinct
  // sensitive bands = its l. At 100 TB this is a single map-side-
  // combined aggregation — the same shape as d01 — and the at-risk flag
  // lets a downstream suppression pass filter without a second scan.
  private val kAnonK = 5
  private def t28(s: SparkSession, dir: String): DataFrame = {
    val c = rd(s, dir, "customer")
    c.select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("bal_band")).as("l_diversity"))
      .withColumn("at_risk", col("class_size") < kAnonK)
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }
  private val t28Sql =
    s"""SELECT c_nationkey, c_mktsegment,
       | COUNT(*) AS class_size,
       | COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) AS l_diversity,
       | COUNT(*) < $kAnonK AS at_risk
       |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- t29: DSIR importance weights ---------------------------------------
  // Data Selection via Importance Resampling (Xie et al., arXiv:2302.03169):
  // score every document by how target-like its hashed n-gram feature
  // distribution is. Target = the src0 slice; raw = the whole corpus.
  // Plan shape: ONE tokenize+explode scan -> two 64-row bucket count
  // aggregates (map-side combined) -> per-doc score via a BROADCAST join
  // of the exploded tokens against the 64-row log-ratio dim + one
  // groupBy(doc_id). No collect, no driver loop: at 100 TB the explode
  // is the only corpus-sized stage and both dims stay O(nFeat).
  // Laplace +1 smoothing keeps empty buckets finite; same base-31
  // token hash + Knuth bucket spelling as t13.
  private def t29(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val tokHash =
      s"aggregate(sequence(1, length(tok)), CAST(0 AS BIGINT), " +
        s"(h, i) -> (h * 31 + ascii(substr(tok, i, 1))) % $P)"
    val toks = d
      .select(col("doc_id"), col("source"),
        explode(expr("filter(split(text, ' '), tk -> length(tk) > 0)")).as("tok"))
      .select(col("doc_id"), col("source"),
        expr(s"CAST((($tokHash * 2654435761) % $P) % $nFeat AS INT)").as("bucket"))
      .localCheckpoint() // feeds the dim build AND the scoring join
    val dim = toks.groupBy(col("bucket")).agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c_t"),
        count(lit(1)).as("c_s"))
      .select(col("bucket"), (log((col("c_t") + lit(1.0))) - log((col("c_s") + lit(1.0))))
        .as("log_ratio"))
    toks.join(broadcast(dim), "bucket")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("log_ratio")).as("lr_sum"))
      // subtract the corpus-size offset ln(N_t/N_s) once per token so the
      // weight is scale-free; fold it via the per-doc token count
      .select(col("doc_id"), col("n_tokens"),
        (col("lr_sum") / col("n_tokens")).cast("float").as("avg_log_ratio"))
      .orderBy(col("doc_id"))
  }
  private val t29Sql = {
    val tokHash =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(tok)), i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))), " +
        s"(h, c) -> (h * 31 + c) % $P)"
    s"""WITH toks AS (
       | SELECT doc_id, source,
       |  CAST((($tokHash * 2654435761) % $P) % $nFeat AS INTEGER) AS bucket
       | FROM (SELECT doc_id, source, unnest(list_filter(string_split(text, ' '),
       |        tk -> length(tk) > 0)) AS tok FROM documents)),
       |dim AS (
       | SELECT bucket,
       |  LN((SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) + 1.0))
       |   - LN((COUNT(*) + 1.0)) AS log_ratio
       | FROM toks GROUP BY 1)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       | CAST(SUM(log_ratio) / COUNT(*) AS REAL) AS avg_log_ratio
       |FROM toks JOIN dim USING (bucket)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- t30: differentially-private count release --------------------------
  // The Laplace mechanism (Dwork et al., TCC 2006): release per-group
  // counts of a sensitive table with Lap(Δf/ε) noise, Δf = 1 for
  // counting queries. Production DP pipelines need the noise SEEDED so
  // a re-release of the same cut is identical (and so this oracle can
  // check the machinery bit-for-bit): u ∈ (0,1) comes from the t13
  // base-31 hash of the group key (Knuth-mixed, 2²⁰ grid, zero
  // excluded so ln(1−2|u−½|) is finite), and the inverse-CDF transform
  //   noise = −(1/ε)·sign(u−½)·ln(1 − 2|u−½|)
  // is one shared spelling. Plan: ONE map-side-combined groupBy; the
  // noise is a scalar projection on the (tiny) group table. ε = 1.
  private val dpEps = "1.0"
  private def t30(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val keyHash =
      s"aggregate(sequence(1, length(grp)), CAST(0 AS BIGINT), " +
        s"(h, i) -> (h * 31 + ascii(substr(grp, i, 1))) % $P)"
    val u = s"(CAST((($keyHash * 2654435761) % $P) % 1048575 + 1 AS DOUBLE) / 1048576.0)"
    val noise = s"(-(1.0 / $dpEps) * SIGN($u - 0.5) * LN(1.0 - 2.0 * ABS($u - 0.5)))"
    d.groupBy(col("lang").as("grp"))
      .agg(count(lit(1)).as("n"))
      .select(col("grp").as("lang"),
        expr(s"CAST(n + $noise AS FLOAT)").as("noisy_count"))
      .orderBy(col("lang"))
  }
  private val t30Sql = {
    val keyHash =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(grp)), i -> CAST(ascii(substr(grp, i, 1)) AS BIGINT))), " +
        s"(h, c) -> (h * 31 + c) % $P)"
    val u = s"(CAST((($keyHash * 2654435761) % $P) % 1048575 + 1 AS DOUBLE) / 1048576.0)"
    val noise = s"(-(1.0 / $dpEps) * SIGN($u - 0.5) * LN(1.0 - 2.0 * ABS($u - 0.5)))"
    s"""WITH g AS (SELECT lang AS grp, COUNT(*) AS n FROM documents GROUP BY 1)
       |SELECT grp AS lang, CAST(n + $noise AS REAL) AS noisy_count
       |FROM g ORDER BY lang""".stripMargin
  }

  // ---- t14: language-stratified sampling ----------------------------------
  // Deterministic inverse-propensity downsampling by language — the
  // language-rebalancing step of multilingual corpus assembly. Keep
  // decision = (mix(doc_id) mod 1000 < rate(lang)): a stateless hash
  // filter that needs no shuffle, no sampling state, and reproduces
  // byte-identically on any cluster size — unlike rand()-based
  // sampling, which is neither reproducible nor repartition-stable.
  // Each kept row carries weight = 1000/rate so downstream weighted
  // aggregates stay unbiased.
  private val rates: Seq[(String, Int)] =
    Seq("en" -> 250, "de" -> 800, "es" -> 800, "fr" -> 900, "zh" -> 600)
  private val rateCase =
    rates.map { case (l, r) => s"WHEN '$l' THEN $r" }
      .mkString("CASE lang ", " ", " ELSE 1000 END")
  private def t14(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    d.withColumn("rate_millis", expr(rateCase))
      .filter(expr(s"${mix("doc_id")} % 1000") < col("rate_millis"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("rate_millis").cast("long").as("rate_millis"),
        (lit(1000.0) / col("rate_millis")).cast("float").as("sample_weight"))
      .orderBy(col("doc_id"))
  }
  private val t14Sql =
    s"""SELECT doc_id, lang, source,
       | CAST(($rateCase) AS BIGINT) AS rate_millis,
       | CAST(1000.0 / ($rateCase) AS REAL) AS sample_weight
       |FROM documents
       |WHERE ${mix("doc_id")} % 1000 < ($rateCase)
       |ORDER BY doc_id""".stripMargin

  // ---- t21: weighted sampling (sequential Poisson) -------------------------
  // Deterministic weighted sampling without replacement: each document
  // draws a hash-uniform u ∈ [1, 2^20] and competes on priority = u / w
  // (w = n_chars), smallest k per language stratum win — Ohlsson's
  // sequential Poisson sampling, the order-sampling scheme whose
  // inclusion probability is ≈ proportional to weight. The
  // reproducibility discipline of t14 extended to WEIGHTED draws:
  // priorities derive from the id hash, not rand(), so the sample is
  // byte-identical on any cluster size or partitioning. Scale shape:
  // the priority is a stateless projection (scan-pushed); the only
  // shuffle is the per-stratum top-k window keyed by lang — and at
  // 100 TB that window would swap for the a04-style per-partition
  // top-k pre-reduce. Determinism across engines: u and w are exact
  // integers, priority is ONE correctly-rounded IEEE division, and the
  // (priority, doc_id) ordering breaks the (measure-zero) ties.
  private val wsK = 12
  private def t21(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        expr(s"(${mix("doc_id")} % 1048576) + 1").as("u"))
      .withColumn("priority", expr("CAST(u AS DOUBLE) / n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("priority").asc, col("doc_id").asc)
    d.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= wsK)
      .select(col("lang"), col("rk"), col("doc_id"),
        col("n_chars").as("weight"),
        col("priority").cast("float").as("priority"))
      .orderBy(col("lang"), col("rk"))
  }
  private val t21Sql =
    s"""WITH p AS (
       | SELECT doc_id, lang, n_chars,
       |  CAST((${mix("doc_id")} % 1048576) + 1 AS DOUBLE) / n_chars AS priority
       | FROM documents),
       |r AS (
       | SELECT lang, doc_id, n_chars, priority,
       |  ROW_NUMBER() OVER (PARTITION BY lang
       |    ORDER BY priority ASC, doc_id ASC) AS rk
       | FROM p)
       |SELECT lang, rk, doc_id, n_chars AS weight,
       | CAST(priority AS REAL) AS priority
       |FROM r WHERE rk <= $wsK ORDER BY lang, rk""".stripMargin

  // ---- d12: connected components to CONVERGENCE ---------------------------
  // The duplicate-cluster assignment run to an actual fixpoint (d06 is
  // the fixed-k oracle-contract variant), via the alternating
  // large-star/small-star algorithm (Kiveris et al., "Connected
  // Components in MapReduce and Beyond", SoCC 2014): each round rewires
  // every vertex's larger neighbors to its neighborhood minimum
  // (large-star) then collapses the smaller neighbors onto it
  // (small-star), so components contract to stars centered at their
  // minimum id in O(log²) rounds — diameter-independent, unlike plain
  // min-label propagation, which needs O(diameter) rounds (measured: a
  // 250-long chain at sf0.1 was still unconverged after 40 label-prop
  // rounds; two-phase finishes in a handful). Every phase is one
  // groupBy + one join + distinct on the edge list; each round
  // checkpoints with fresh stats (see ckptFresh) and the stop condition
  // is data-dependent: the edge list is a star forest iff it is stable
  // under both phases, detected by an order-free (count, hash-sum)
  // fingerprint. The oracle is iteration-free — a recursive-CTE
  // reachability closure — so the check proves the CONVERGED answer,
  // not a step count. Edge graph: consecutive docs in the per-source
  // length-sorted order with |Δn_chars| ≤ 20 (a cheap deterministic
  // near-dup graph, same spirit as d06's blocks).
  private val ccGap = 20
  private val ccMaxIters = 40

  /** Checkpoint AND reset plan statistics. A plain localCheckpoint
    * truncates lineage but `LogicalRDD.fromDataset` copies the origin
    * plan's ESTIMATED stats onto the checkpoint — and a join's size
    * estimate is the product of its children's. Iterating
    * join-then-checkpoint therefore squares the inherited sizeInBytes
    * every round: by round ~20 the estimate is a BigInt with millions
    * of digits and the stats visitor spends minutes in BigInteger
    * multiplies (observed: a 9-minute planning stall at sf0.1).
    * Rebuilding from the checkpointed RDD drops the poisoned stats
    * while keeping the cached blocks. */
  private def ckptFresh(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    c.sparkSession.createDataFrame(c.rdd, c.schema)
  }

  /** Large-star: connect every neighbor larger than u to
    * m(u) = min(Γ(u) ∪ {u}). Operates on the symmetrized edge list. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("u"), least(col("mn"), col("src")).as("m"))
    sym.join(mins, col("src") === col("u"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: orient edges large→small, then connect every smaller
    * neighbor (and u itself) to m(u) = min of u's smaller neighbors. */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val mins = or.groupBy(col("src")).agg(min(col("dst")).as("m"))
      .select(col("src").as("u"), col("m"))
    or.join(mins, col("src") === col("u"))
      .filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(mins.select(col("u").as("src"), col("m").as("dst")))
      .distinct()
  }

  /** Order-free edge-list fingerprint: equal fingerprints across rounds
    * ⇒ the star-contraction reached its fixpoint. */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    // pmod-bound the hash before summing: full-range longs overflow the
    // ANSI-mode sum
    val r = e.agg(count(lit(1)).as("n"),
      coalesce(org.apache.spark.sql.functions.sum(
        pmod(xxhash64(col("src"), col("dst")), lit(1000000007L))), lit(0L)).as("h"))
      .head
    (r.getLong(0), r.getLong(1))
  }

  /** Converged (doc_id, cluster) labels — d12's result, shared with the
    * leakage-safe splitter (t16). Memoized per (session, dir): the
    * cluster assignment is the persisted artifact a production pipeline
    * writes once and joins many times, so consumers in the same session
    * reuse the checkpointed table instead of re-running the contraction
    * loop (~4 s at sf0.1). */
  private val ccMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), DataFrame]()

  private def ccLabels(s: SparkSession, dir: String): DataFrame =
    ccMemo.computeIfAbsent((System.identityHashCode(s), dir),
      _ => ccLabelsCompute(s, dir))

  /** Component labels for every vertex that appears in `edges`:
    * (lid, nbmin) with nbmin = min doc_id of the vertex's component.
    *
    * Two-level design. Star-contraction shrinks the edge list
    * geometrically, so after a handful of distributed rounds the
    * residual graph is tiny relative to the cluster — at that point
    * more distributed rounds are pure scheduler overhead (each round is
    * ~8 shuffle stages over a few thousand rows). Once the fingerprint
    * count drops to `driverThreshold` (1M edges ≈ 16 MB of pairs, far
    * below any driver heap), the remainder is finished with a
    * min-rooted union-find on the driver — the same finish a
    * 1000-executor job would want, because contraction has already done
    * the data-parallel part. `driverThreshold = 0` forces pure
    * distributed convergence (exercised in ConnectedComponentsSpec,
    * which proves both paths produce identical labels). */
  private[graft] def ccConverge(s: SparkSession, edges0: DataFrame,
                                driverThreshold: Long): DataFrame = {
    var edges = ckptFresh(edges0.select(col("src"), col("dst")))
    var fp = fingerprint(edges)
    var prevFp = (-1L, -1L)
    var iters = 0
    while (fp != prevFp && fp._1 > driverThreshold && iters < ccMaxIters) {
      // two contraction rounds per materialization: the 4-phase plan is
      // still shallow (stats reset each checkpoint, so no inheritance
      // blow-up) and it halves the per-iteration job count — the
      // checkpoint and fingerprint jobs dominate wall time once the
      // edge list is small
      edges = ckptFresh(smallStar(largeStar(smallStar(largeStar(edges)))))
      prevFp = fp
      fp = fingerprint(edges)
      iters += 1
    }
    if (fp._1 <= driverThreshold && fp != prevFp) {
      // finish on the driver: min-rooted union-find with path compression
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val n = parent.get(c); parent.put(c, r); c = n
        }
        r
      }
      edges.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val (ra, rb) = (find(a), find(b))
        // min root everywhere ⇒ find() IS the component minimum
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val labels = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach(v => labels += ((v, find(v))))
      import s.implicits._
      labels.toSeq.toDF("lid", "nbmin")
    } else {
      // stable edge list = star forest (v, component-min)
      edges
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .groupBy(col("src")).agg(min(col("dst")).as("nbmin"))
        .select(col("src").as("lid"), col("nbmin"))
    }
  }

  private def ccLabelsCompute(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val chained = d.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("prev", lag(col("doc_id"), 1).over(w))
      .withColumn("prev_nc", lag(col("n_chars"), 1).over(w))
      .filter(col("prev").isNotNull &&
        abs(col("n_chars") - col("prev_nc")) <= ccGap)
    val lbl = ccConverge(s,
      chained.select(col("prev").as("src"), col("doc_id").as("dst")),
      driverThreshold = 1000000L)
    // vertices with no edge (singletons) label themselves
    d.select(col("doc_id")).join(lbl, col("doc_id") === col("lid"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("nbmin"), col("doc_id"))).as("cluster"))
  }

  private def d12(s: SparkSession, dir: String): DataFrame =
    ccLabels(s, dir).orderBy(col("doc_id"))

  /** Shared WITH clause: edge graph + recursive reachability closure. */
  private val ccWithSql =
    s"""WITH RECURSIVE chained AS (
       | SELECT doc_id,
       |  LAG(doc_id) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS prev,
       |  n_chars,
       |  LAG(n_chars) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS prev_nc
       | FROM documents),
       |edges AS (
       | SELECT prev AS src, doc_id AS dst FROM chained
       | WHERE prev IS NOT NULL AND abs(n_chars - prev_nc) <= $ccGap
       | UNION ALL
       | SELECT doc_id AS src, prev AS dst FROM chained
       | WHERE prev IS NOT NULL AND abs(n_chars - prev_nc) <= $ccGap),
       |reach AS (
       | SELECT doc_id AS v, doc_id AS u FROM documents
       | UNION
       | SELECT r.v, e.dst FROM reach r JOIN edges e ON e.src = r.u)""".stripMargin

  private val d12Sql =
    s"""$ccWithSql
       |SELECT v AS doc_id, MIN(u) AS cluster FROM reach
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- t16: leakage-safe train/eval fold split -----------------------------
  // The split rule that keeps near-duplicates out of each other's
  // folds: assign folds by DUPLICATE CLUSTER, not by document —
  // fold(doc) = mix(cluster(doc)) mod nFolds — so every member of a
  // connected near-dup component lands in the same fold and no
  // train/eval contamination can cross the boundary. Composes the
  // converged d12 labels with a stateless hash; zero-leakage is BY
  // CONSTRUCTION, and the oracle (independent recursive-CTE clustering
  // + the same hash) re-derives the identical assignment, which is the
  // check that the construction holds. Reported per fold: document and
  // cluster counts.
  private val nFolds = 5
  private def t16(s: SparkSession, dir: String): DataFrame = {
    ccLabels(s, dir)
      .withColumn("fold", expr(s"${mix("cluster")} % $nFolds"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"))
      .orderBy(col("fold"))
  }
  private val t16Sql =
    s"""$ccWithSql,
       |lab AS (SELECT v AS doc_id, MIN(u) AS cluster FROM reach GROUP BY 1)
       |SELECT ${mix("cluster")} % $nFolds AS fold,
       | COUNT(*) AS n_docs, COUNT(DISTINCT cluster) AS n_clusters
       |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- t15: bigram-LM quality score ---------------------------------------
  // The CCNet/Gopher-shape statistical quality filter: train an add-one-
  // smoothed bigram language model ON the corpus itself, score every
  // document by its mean bigram log-probability, and let downstream
  // filters cut the low-likelihood tail. The LM "model" is two
  // vocab-bounded count tables (bigram contexts and bigram pairs) — at
  // 100 TB those tables are the only shuffled state (keyed by term,
  // map-side combined), the vocabulary size is ONE broadcast scalar,
  // and scoring is a keyed join of the per-doc bigram stream against
  // them. Per-contribution log-probs are quantized to 1e-4
  // (floor(x·1e4 + 0.5) longs) before the per-doc sum so the fold is
  // order-free integer addition — the repo's transcendental-function
  // convention (ln is libm-specific).
  private def t15(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val toks0 = d.select(col("doc_id"),
      expr("filter(split(text, ' '), tk -> length(tk) > 0)").as("tl"))
      .localCheckpoint() // feeds vocab count AND the bigram stream
    val vocab = toks0.select(explode(col("tl")).as("tk"))
      .agg(countDistinct(col("tk")).as("nv"))
    val bg = toks0.filter(size(col("tl")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tl) - 1), " +
          "i -> struct(element_at(tl, i) AS w1, element_at(tl, i + 1) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint() // feeds the two count tables AND the scoring join
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val uc = bg.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    bg.join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), expr(
        "CAST(floor(ln((cb + 1.0) / (cu + nv)) * 10000 + 0.5) AS BIGINT)").as("lpq"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (org.apache.spark.sql.functions.sum(col("lpq")) / 10000.0 / count(lit(1)))
          .cast("float").as("avg_logp"))
      .orderBy(col("doc_id"))
  }
  private val t15Sql =
    """WITH toks AS (
      | SELECT doc_id, list_filter(string_split(text, ' '), tk -> length(tk) > 0) AS tl
      | FROM documents),
      |vocab AS (SELECT COUNT(DISTINCT tk) AS nv
      |          FROM (SELECT unnest(tl) AS tk FROM toks)),
      |bg AS (SELECT doc_id, unnest(tl[1:len(tl)-1]) AS w1, unnest(tl[2:len(tl)]) AS w2
      |       FROM toks WHERE len(tl) >= 2),
      |bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
      |uc AS (SELECT w1, COUNT(*) AS cu FROM bg GROUP BY 1),
      |contrib AS (
      | SELECT bg.doc_id,
      |  CAST(floor(ln((bc.cb + 1.0) / (uc.cu + vocab.nv)) * 10000 + 0.5) AS BIGINT) AS lpq
      | FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vocab)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      | CAST(SUM(lpq) / 10000.0 / COUNT(*) AS REAL) AS avg_logp
      |FROM contrib GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- t35: CCNet perplexity buckets ----------------------------------------
  // The CCNet corpus-partitioning step (Wenzek et al. 2020 §4.3): score
  // every document with the corpus LM, cut the score distribution into
  // terciles, and label each doc head/middle/tail — downstream training
  // mixes buckets at different rates. The per-doc score is t15's add-one
  // bigram mean log-prob VERBATIM (same quantized-contribution fold, so
  // the two queries can never drift); the cuts are exact interpolated
  // terciles of that per-doc score.
  //
  // Scale design: the scored table (one row per doc) is checkpointed
  // once and feeds both the percentile aggregate and the labeling pass;
  // the two cut points come back as ONE broadcast row (never a
  // collect). Exact percentile over per-doc rows is a sort of one row
  // per document — at 100 TB the swap-in is approx_percentile on the
  // same keyed shape; exact is kept here because both engines define
  // interpolated order statistics identically (the a23 pairing), which
  // an ε-approx sketch would not. Tercile comparisons happen on the
  // UNROUNDED double score — floats are cast only at the output edge.
  private def t35(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val toks0 = d.select(col("doc_id"),
      expr("filter(split(text, ' '), tk -> length(tk) > 0)").as("tl"))
      .localCheckpoint()
    val vocab = toks0.select(explode(col("tl")).as("tk"))
      .agg(countDistinct(col("tk")).as("nv"))
    val bg = toks0.filter(size(col("tl")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tl) - 1), " +
          "i -> struct(element_at(tl, i) AS w1, element_at(tl, i + 1) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint()
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val uc = bg.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val scored = bg.join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), expr(
        "CAST(floor(ln((cb + 1.0) / (cu + nv)) * 10000 + 0.5) AS BIGINT)").as("lpq"))
      .groupBy(col("doc_id"))
      .agg((org.apache.spark.sql.functions.sum(col("lpq")) / 10000.0 / count(lit(1)))
        .as("score"))
      .localCheckpoint() // feeds the tercile aggregate AND the labeler
    val cuts = scored.agg(
      expr("percentile(score, CAST(1.0/3 AS DOUBLE))").as("c1"),
      expr("percentile(score, CAST(2.0/3 AS DOUBLE))").as("c2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"),
        col("score").cast("float").as("avg_logp"),
        when(col("score") >= col("c2"), lit("head"))
          .when(col("score") >= col("c1"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }
  private val t35Sql =
    """WITH toks AS (
      | SELECT doc_id, list_filter(string_split(text, ' '), tk -> length(tk) > 0) AS tl
      | FROM documents),
      |vocab AS (SELECT COUNT(DISTINCT tk) AS nv
      |          FROM (SELECT unnest(tl) AS tk FROM toks)),
      |bg AS (SELECT doc_id, unnest(tl[1:len(tl)-1]) AS w1, unnest(tl[2:len(tl)]) AS w2
      |       FROM toks WHERE len(tl) >= 2),
      |bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
      |uc AS (SELECT w1, COUNT(*) AS cu FROM bg GROUP BY 1),
      |contrib AS (
      | SELECT bg.doc_id,
      |  CAST(floor(ln((bc.cb + 1.0) / (uc.cu + vocab.nv)) * 10000 + 0.5) AS BIGINT) AS lpq
      | FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vocab),
      |scored AS (
      | SELECT doc_id, SUM(lpq) / 10000.0 / COUNT(*) AS score
      | FROM contrib GROUP BY 1),
      |cuts AS (
      | SELECT quantile_cont(score, CAST(1.0/3 AS DOUBLE)) AS c1,
      |        quantile_cont(score, CAST(2.0/3 AS DOUBLE)) AS c2
      | FROM scored)
      |SELECT doc_id, CAST(score AS REAL) AS avg_logp,
      | CASE WHEN score >= c2 THEN 'head'
      |      WHEN score >= c1 THEN 'middle'
      |      ELSE 'tail' END AS bucket
      |FROM scored CROSS JOIN cuts ORDER BY doc_id""".stripMargin

  // ---- a23: robust outlier report (median/MAD) ----------------------------
  // The data-cleaning pass that survives the outliers it hunts: flag
  // values more than 3 median-absolute-deviations from their group
  // median (mean/stddev would be dragged by the very tail being
  // flagged). Exact medians via two grouped percentile passes over the
  // same keyed shuffle partitioning — the deviation table is
  // materialized once and feeds both the MAD aggregate and the final
  // count. All comparisons are on deterministically-derived doubles
  // (interpolated order statistics, exact subtraction), so no
  // quantization is needed.
  private def a23(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
    val med = e.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.select(col("event_type"), col("value"))
      .join(med, Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
      .localCheckpoint() // feeds the MAD aggregate AND the outlier count
    val madT = dev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(madT, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("med")).cast("float").as("median_value"),
        max(col("mad")).cast("float").as("mad_value"),
        count(lit(1)).as("n_events"),
        org.apache.spark.sql.functions.sum(
          when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }
  private val a23Sql =
    """WITH med AS (
      | SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
      |dev AS (
      | SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      | FROM events e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
      |SELECT d.event_type,
      | CAST(MAX(d.med) AS REAL) AS median_value,
      | CAST(MAX(mad.mad) AS REAL) AS mad_value,
      | COUNT(*) AS n_events,
      | CAST(SUM(CASE WHEN d.adev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- k06: HyperLogLog distinct count (native register aggregate) --------
  // The industry-standard distributed distinct count, as a native
  // TypedImperativeAggregate (plans/HllRegisters.scala): m = 2^9 byte
  // registers per group, element-wise-max merge — map-side combine
  // reduces each partition to 512 bytes per group before the exchange
  // (KMV's k04 keeps k longs; HLL's register vector is the
  // constant-size, union-mergeable industry default). The oracle
  // rebuilds the registers relationally (bucket = hash % m, rho via an
  // integer CASE ladder — no float log2) and the estimator folds the
  // SAME register array on both engines: E = α_m·m²/Σ2^(−M_j), with
  // the small-range linear-counting correction m·ln(m/V) when E ≤ 2.5m
  // and V > 0. Registers ride in the output — the sketches themselves
  // are hash-compared, not just the estimate. They travel as a
  // '-'-joined STRING (not array<int>): the driver's pandas row-sort
  // cannot hash list cells, and a joined string is an equally lossless
  // fingerprint of the register vector.
  private val hllP = 9
  private val hllM = 1 << hllP // 512
  private val hllAlpha = 0.7213 / (1.0 + 1.079 / hllM)
  private def k06(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
    val sumExpr = // Σ 2^-M_j : every term a power of two — exact in double
      "aggregate(regs_arr, CAST(0 AS DOUBLE), (acc, r) -> acc + power(2.0D, -r))"
    val zerosExpr = "size(filter(regs_arr, r -> r = 0))"
    val rawExpr = s"$hllAlpha * ${hllM.toDouble * hllM} / ($sumExpr)"
    e.groupBy(col("event_type"))
      .agg(
        expr(s"hll_registers(${mix(kmvKey)}, $hllP)").as("regs_arr"),
        countDistinct(expr(kmvKey)).as("n_exact"))
      .select(col("event_type"),
        expr("array_join(transform(regs_arr, r -> cast(r AS STRING)), '-')")
          .as("regs"),
        col("n_exact"),
        expr(s"CAST($rawExpr AS FLOAT)").as("est_raw"),
        expr(
          s"""CAST(CASE WHEN ($rawExpr) <= ${2.5 * hllM} AND ($zerosExpr) > 0
             | THEN $hllM.0D * ln(${hllM.toDouble} / ($zerosExpr))
             | ELSE ($rawExpr) END AS FLOAT)""".stripMargin).as("est"))
      .orderBy(col("event_type"))
  }
  /** rho(w) as an integer CASE ladder over w = hv div m — no float
    * log2, whose edge-of-power rounding could differ per libm. Shared
    * by the k06 and k08 oracles. */
  private val hllLadder = {
    val maxLog = 31 - hllP - 1 // w < 2^(31-p); floor(log2 w) <= 30-p
    (maxLog to 0 by -1)
      .map(k => s"WHEN w >= ${1L << k} THEN ${31 - hllP - k}")
      .mkString("CASE ", " ", s" ELSE ${32 - hllP} END") // w = 0 falls through
  }
  private val k06Sql = {
    val ladder = hllLadder
    val sumExpr = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(regs_arr, r -> power(2.0, -r))), (acc, v) -> acc + v)"
    val zerosExpr = "len(list_filter(regs_arr, r -> r = 0))"
    // explicit DOUBLE casts: DuckDB parses the alpha literal as DECIMAL
    // and the DECIMAL·DECIMAL product overflows at 18 digits
    val rawExpr = s"CAST($hllAlpha AS DOUBLE) * " +
      s"CAST(${hllM.toDouble * hllM} AS DOUBLE) / ($sumExpr)"
    s"""WITH h AS (
       | SELECT event_type, ${mix(kmvKey)} AS hv FROM events),
       |b AS (SELECT event_type, hv % $hllM AS j, hv // $hllM AS w FROM h),
       |r AS (SELECT event_type, j, MAX($ladder) AS rho FROM b GROUP BY 1, 2),
       |spine AS (
       | SELECT et.event_type, gs.j FROM
       |  (SELECT DISTINCT event_type FROM events) et
       |  CROSS JOIN (SELECT UNNEST(generate_series(0, ${hllM - 1})) AS j) gs),
       |regs_t AS (
       | SELECT s.event_type,
       |  list(CAST(COALESCE(r.rho, 0) AS INTEGER) ORDER BY s.j) AS regs_arr
       | FROM spine s LEFT JOIN r ON r.event_type = s.event_type AND r.j = s.j
       | GROUP BY 1),
       |ex AS (SELECT event_type, COUNT(DISTINCT $kmvKey) AS n_exact
       |       FROM events GROUP BY 1)
       |SELECT regs_t.event_type,
       | array_to_string(regs_arr, '-') AS regs, ex.n_exact,
       | CAST($rawExpr AS REAL) AS est_raw,
       | CAST(CASE WHEN ($rawExpr) <= ${2.5 * hllM} AND ($zerosExpr) > 0
       |  THEN ${hllM.toDouble} * ln(${hllM.toDouble} / ($zerosExpr))
       |  ELSE ($rawExpr) END AS REAL) AS est
       |FROM regs_t JOIN ex USING (event_type) ORDER BY 1""".stripMargin
  }

  // ---- k08: HLL distinct under CUBE grouping sets --------------------------
  // The sketch-rollup composition a reporting pipeline runs at scale:
  // approximate distinct counts for EVERY cell of a dimension cube —
  // (event_type × segment), per-type, per-segment, grand total — in
  // ONE scan. Spark plans cube as Expand + the native hll_registers
  // TypedImperativeAggregate: partials combine map-side per grouping
  // set, so the exchange carries one register vector per output cell
  // (24 rows here) no matter the corpus size — the reason sketches,
  // not exact distinct, power cube reports at 100 TB. The sketches
  // ride as SPARSE "j:rho" strings (hit buckets only, bucket-ordered)
  // — spine-free to rebuild relationally, and the estimator needs only
  // hit buckets: Σ2^-rho + (m − hits) 1-terms, zeros = m − hits; every
  // 2^-rho term is a power of two so the fold is order-free exact.
  // n_exact (exact COUNT DISTINCT per cell) rides along as the
  // accuracy witness. gid mirrors Spark's grouping_id() bit order,
  // derived from output nulls (source dims are never null).
  private def k08(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events").withColumn("seg", col("user_id") % 3)
    val sumExpr =
      "aggregate(regs_arr, CAST(0 AS DOUBLE), (acc, r) -> acc + power(2.0D, -r))"
    val zerosExpr = "size(filter(regs_arr, r -> r = 0))"
    val rawExpr = s"$hllAlpha * ${hllM.toDouble * hllM} / ($sumExpr)"
    val sparse = "array_join(filter(transform(regs_arr, (r, i) -> " +
      "IF(r != 0, concat(CAST(i AS STRING), ':', CAST(r AS STRING)), NULL)), " +
      "x -> x IS NOT NULL), '-')"
    e.cube(col("event_type"), col("seg"))
      .agg(expr(s"hll_registers(${mix(kmvKey)}, $hllP)").as("regs_arr"),
        countDistinct(expr(kmvKey)).as("n_exact"))
      .select(
        coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("seg"), lit(-1L)).as("seg"),
        (when(col("event_type").isNull, 2).otherwise(0) +
          when(col("seg").isNull, 1).otherwise(0)).cast("int").as("gid"),
        expr(sparse).as("regs"), col("n_exact"),
        expr(
          s"""CAST(CASE WHEN ($rawExpr) <= ${2.5 * hllM} AND ($zerosExpr) > 0
             | THEN $hllM.0D * ln(${hllM.toDouble} / ($zerosExpr))
             | ELSE ($rawExpr) END AS FLOAT)""".stripMargin).as("est"))
      .orderBy(col("gid"), col("event_type"), col("seg"))
  }
  private val k08Sql = {
    val raw = s"CAST($hllAlpha AS DOUBLE) * " +
      s"CAST(${hllM.toDouble * hllM} AS DOUBLE) / s"
    s"""WITH base AS (
       | SELECT event_type, user_id % 3 AS seg, ${mix(kmvKey)} AS hv,
       |  $kmvKey AS k
       | FROM events),
       |b AS (SELECT event_type, seg, hv % $hllM AS j, hv // $hllM AS w
       |      FROM base),
       |r AS (SELECT event_type, seg, j, MAX($hllLadder) AS rho FROM b
       |      GROUP BY GROUPING SETS ((event_type, seg, j), (event_type, j),
       |                              (seg, j), (j))),
       |regs_t AS (
       | SELECT event_type, seg,
       |  string_agg(j || ':' || rho, '-' ORDER BY j) AS regs,
       |  CAST(SUM(power(2.0, -rho)) + ($hllM - COUNT(*)) AS DOUBLE) AS s,
       |  $hllM - COUNT(*) AS zeros
       | FROM r GROUP BY event_type, seg),
       |ex AS (SELECT event_type, seg, COUNT(DISTINCT k) AS n_exact FROM base
       |       GROUP BY GROUPING SETS ((event_type, seg), (event_type),
       |                               (seg), ()))
       |SELECT COALESCE(t.event_type, '(all)') AS event_type,
       | COALESCE(t.seg, -1) AS seg,
       | (CASE WHEN t.event_type IS NULL THEN 2 ELSE 0 END
       |  + CASE WHEN t.seg IS NULL THEN 1 ELSE 0 END) AS gid,
       | t.regs, ex.n_exact,
       | CAST(CASE WHEN ($raw) <= ${2.5 * hllM} AND t.zeros > 0
       |  THEN ${hllM.toDouble} * ln(${hllM.toDouble} / t.zeros)
       |  ELSE ($raw) END AS REAL) AS est
       |FROM regs_t t JOIN ex
       |  ON t.event_type IS NOT DISTINCT FROM ex.event_type
       | AND t.seg IS NOT DISTINCT FROM ex.seg
       |ORDER BY gid, t.event_type, t.seg""".stripMargin
  }

  // ---- k09: sketch-table maintenance — merge daily HLLs --------------------
  // The production pattern that justifies sketches at 100 TB: persist a
  // SMALL sketch row per (key, partition) — here one register vector
  // per (event_type, day) — and answer cross-partition distinct
  // questions by MERGING sketches, never rescanning the data (a11's
  // histogram-merge story, for cardinality). The merge is pure
  // relational algebra on the sketch table: posexplode the register
  // arrays, per-(key, bucket) MAX, refold — 512·|days| rows per key,
  // independent of corpus size. Register max-merge is exactly HLL
  // union, so the merged vector equals the direct single-pass sketch
  // bucket-for-bucket; the oracle computes the DIRECT rebuild, making
  // the green hash a proof that re-aggregation is lossless. Σ2^-rho
  // terms are powers of two (order-free exact; every partial sum fits
  // 53 bits), so the estimator agrees bit-for-bit too.
  private val nsPerDayK = 86400000000000L
  private def k09(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
      .withColumn("day", expr(s"ts div $nsPerDayK"))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(expr(s"hll_registers(${mix(kmvKey)}, $hllP)").as("regs_arr"))
      .localCheckpoint() // the persisted sketch table: feeds merge + day count
    val perBucket = daily
      .select(col("event_type"), posexplode(col("regs_arr")).as(Seq("j", "rho")))
      .groupBy(col("event_type"), col("j")).agg(max(col("rho")).as("rho"))
    val rawExpr = s"$hllAlpha * ${hllM.toDouble * hllM} / ssum"
    val folded = perBucket.groupBy(col("event_type"))
      .agg(sum(expr("power(2.0D, -rho)")).as("ssum"),
        sum(when(col("rho") === 0, 1L).otherwise(0L)).as("zeros"),
        expr("array_join(transform(array_sort(collect_list(struct(j, rho)))," +
          " x -> CAST(x.rho AS STRING)), '-')").as("regs"))
    val nd = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    folded.join(nd, "event_type")
      .select(col("event_type"), col("n_days"), col("regs"),
        expr(
          s"""CAST(CASE WHEN ($rawExpr) <= ${2.5 * hllM} AND zeros > 0
             | THEN $hllM.0D * ln(${hllM.toDouble} / zeros)
             | ELSE ($rawExpr) END AS FLOAT)""".stripMargin).as("est"))
      .orderBy(col("event_type"))
  }
  private val k09Sql = {
    val sumExpr = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(regs_arr, r -> power(2.0, -r))), (acc, v) -> acc + v)"
    val zerosExpr = "len(list_filter(regs_arr, r -> r = 0))"
    val rawExpr = s"CAST($hllAlpha AS DOUBLE) * " +
      s"CAST(${hllM.toDouble * hllM} AS DOUBLE) / ($sumExpr)"
    s"""WITH h AS (
       | SELECT event_type, ${mix(kmvKey)} AS hv FROM events),
       |b AS (SELECT event_type, hv % $hllM AS j, hv // $hllM AS w FROM h),
       |r AS (SELECT event_type, j, MAX($hllLadder) AS rho FROM b GROUP BY 1, 2),
       |spine AS (
       | SELECT et.event_type, gs.j FROM
       |  (SELECT DISTINCT event_type FROM events) et
       |  CROSS JOIN (SELECT UNNEST(generate_series(0, ${hllM - 1})) AS j) gs),
       |regs_t AS (
       | SELECT s.event_type,
       |  list(CAST(COALESCE(r.rho, 0) AS INTEGER) ORDER BY s.j) AS regs_arr
       | FROM spine s LEFT JOIN r ON r.event_type = s.event_type AND r.j = s.j
       | GROUP BY 1),
       |nd AS (SELECT event_type,
       |        COUNT(DISTINCT epoch_ns(ts) // $nsPerDayK) AS n_days
       |       FROM events GROUP BY 1)
       |SELECT regs_t.event_type, nd.n_days,
       | array_to_string(regs_arr, '-') AS regs,
       | CAST(CASE WHEN ($rawExpr) <= ${2.5 * hllM} AND ($zerosExpr) > 0
       |  THEN ${hllM.toDouble} * ln(${hllM.toDouble} / ($zerosExpr))
       |  ELSE ($rawExpr) END AS REAL) AS est
       |FROM regs_t JOIN nd USING (event_type) ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k09_hll_merge" -> (k09 _),
    "k08_hll_cube" -> (k08 _),
    "k06_hll_distinct" -> (k06 _),
    "k04_kmv_distinct" -> (k04 _),
    "k05_kmv_set_ops" -> (k05 _),
    "t13_hashed_classifier" -> (t13 _),
    "t28_k_anonymity" -> (t28 _),
    "t29_dsir_importance" -> (t29 _),
    "t30_dp_release" -> (t30 _),
    "t14_stratified_sample" -> (t14 _),
    "t21_weighted_sample" -> (t21 _),
    "t15_bigram_lm" -> (t15 _),
    "t35_ppl_buckets" -> (t35 _),
    "t16_leakage_safe_split" -> (t16 _),
    "a23_robust_outlier" -> (a23 _),
    "d12_cc_converged" -> (d12 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "k09_hll_merge" -> k09Sql,
    "k08_hll_cube" -> k08Sql,
    "k06_hll_distinct" -> k06Sql,
    "k04_kmv_distinct" -> k04Sql,
    "k05_kmv_set_ops" -> k05Sql,
    "t13_hashed_classifier" -> t13Sql,
    "t28_k_anonymity" -> t28Sql,
    "t29_dsir_importance" -> t29Sql,
    "t30_dp_release" -> t30Sql,
    "t14_stratified_sample" -> t14Sql,
    "t21_weighted_sample" -> t21Sql,
    "t15_bigram_lm" -> t15Sql,
    "t35_ppl_buckets" -> t35Sql,
    "t16_leakage_safe_split" -> t16Sql,
    "a23_robust_outlier" -> a23Sql,
    "d12_cc_converged" -> d12Sql
  ).view
}
