package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines over `documents`
  * and `embeddings`: exact, shingle-Jaccard, MinHash+LSH banding, SimHash,
  * and embedding-cosine near-dup.
  *
  * Scale design: no pairwise comparison is all-pairs, even within a
  * block — candidates always come from an equi-join on a sub-quadratic
  * key (content hash for exact, minhash band for Jaccard, LSH band for
  * MinHash, signature for SimHash, hyperplane band for embeddings), and
  * exact verification runs only on the candidate set.
  * Signatures are computed with array HOFs in one projection (no explode
  * until the band join), so at 100 TB the only shuffle is the band-key
  * join, whose cardinality is O(docs x bands), not O(docs^2).
  *
  * Shingles are character 5-grams: the synthetic corpus draws from a
  * ~31-word vocabulary, making word-SET similarity degenerate (median
  * pair Jaccard 0.62); 5-gram sets preserve sequence information
  * (median 0.18), which is also why real pipelines (GPT-3, Gopher,
  * RefinedWeb) shingle n-grams rather than unigrams.
  */
object DedupQueries extends QueryFamily {

  private val P = 2147483647L // 2^31 - 1

  /** Distinct character-5-gram shingles as base-31 Horner INTEGER
    * hashes (identical arithmetic on both engines). Long comparisons
    * make the pairwise intersections ~20x cheaper than string sets —
    * at sf0.1 the string form spent 458 s in d02 alone. The hash is
    * injective enough (< 2^27 range, tiny real 5-gram vocabulary) and
    * any collision hits both engines identically. */
  private def shingleHash(charAt: Int => String): String =
    (0 until 5).map(charAt).foldLeft("CAST(0 AS BIGINT)")((acc, ch) => s"($acc * 31 + $ch)")
  // sorted ascending so |∩| can use the native merge-walk
  // sorted_intersect_count instead of hash-set array_intersect
  // INT elements (hash < 31^5 < 2^31): halves the bytes the pairwise
  // joins copy per candidate row vs long arrays
  // native one-pass build (graft.plans.ShingleHashSet) — same arithmetic
  // as the HOF form `array_sort(array_distinct(transform(sequence(1,
  // length(text)-4), i -> CAST(<horner> AS INT))))` that shinglesDuck
  // mirrors, minus 5 interpreted lambda nodes per character
  private val shinglesSpark = "shingle_set(text, 5)"
  private val shinglesDuck = {
    val h = shingleHash(k => s"ascii(substr(text, i + $k, 1))")
    s"list_sort(list_distinct(list_transform(generate_series(1, length(text) - 4), i -> CAST($h AS INTEGER))))"
  }

  /** Mix the low-entropy Horner hash into well-spread 31-bit values for
    * minhash/simhash bit extraction (Knuth multiplicative). */
  private def mix(h: String) = s"(($h) * 2654435761) % $P"

  // ---- d01: exact dedup by content hash ----------------------------------
  // Hash-groupBy: one shuffle keyed by digest, map-side partial agg.
  private def d01(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    d.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))
  }
  private val d01Sql =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper,
      | COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- d02: shingle-Jaccard near-dup, minhash-gated -----------------------
  // Candidate generation is 12 single-row minhash bands (same permutation
  // family as d03) intersected with the length bucket; only candidate
  // pairs get the exact sorted-merge Jaccard. A per-block all-pairs form
  // is O(block²) — millions of docs share a length bucket at 100 TB —
  // while the band join shuffles O(docs × 12) id-only rows. Recall at the
  // 0.28 threshold is 1-(1-j)¹² ≈ 0.98; the oracle mirrors the gate, so
  // the contract (and the check) is the gated operator, not all-pairs.
  private val jaccThresh = 0.28
  private val d02Perms = 12

  /** EXACT pre-distinct candidate count of a band gate:
    * Σ over (bucket, band_idx, band_val) keys of C(c, 2) — the number
    * of rows the band self-join will emit, i.e. the realization of
    * PLANS.md's capacity-planning estimate ≈ 12·j̄·C(n,2)/length_buckets,
    * measured instead of modeled. One aggregation over the O(bands·n)
    * exploded band rows (re-reads the checkpointed signature table; no
    * join, no pairs). Also returns n (each doc appears exactly once in
    * band 0). This is what makes d02's at-scale price EXECUTABLE: the
    * guard runs BEFORE the quadratic join, for the cost of a groupBy
    * over id-sized rows. */
  private def bandCandidateCount(exploded: DataFrame): (Long, Long) = {
    val r = exploded
      .groupBy(col("bucket"), col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("c"))
      .agg(
        sum(when(col("band_idx") === 0, col("c")).otherwise(0L)).as("n"),
        sum(expr("(c * (c - 1)) div 2")).as("cand"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Shared exact-verify tail: candidate (a_id, b_id) pairs → exact
    * sorted-merge Jaccard ≥ jaccThresh, float-cast, ordered. */
  private def d02Verify(cand: DataFrame, sigs: DataFrame): DataFrame = {
    val withSh = cand
      .join(sigs.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
    val inter = expr("sorted_intersect_count(a_sh, b_sh)").cast("double")
    val uni = (size(col("a_sh")) + size(col("b_sh"))).cast("double") - inter
    withSh.withColumn("jacc", inter / uni)
      .filter(col("jacc") >= jaccThresh)
      .select(col("a_id"), col("b_id"), col("jacc").cast("float").as("jacc"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Candidate-budget auto-retune (the executable form of "re-tune via
    * d19 before running d02 at corpus scale"): walk d19's config
    * surface from most-recall to least ((12,1) already failed the
    * budget when this runs), measure each config's EXACT candidate
    * count the same way the guard did, and run the first config that
    * fits. Recall degrades along the measured config×recall surface
    * (d19's report is the decision table); the verify threshold and
    * output schema are unchanged, so the result is the same operator
    * evaluated at the feasible banding point. */
  private def d02Retuned(s: SparkSession, sigs: DataFrame,
      budgetTotal: Long): DataFrame = {
    // Docs with a null/empty signature (no shingles) must not enter the
    // band self-join: concat_ws SKIPS null elements, so they would all
    // band to "" and pair with each other — the r=1 path's null band_val
    // never equi-joins, and this keeps the two paths' candidate
    // semantics (and the candidate bill) identical. Output was already
    // unaffected (null jaccard is filtered in verify); this stops the
    // candidate-set bloat on corpora with many empty docs.
    val banded = sigs.filter(col("mh").isNotNull && size(col("mh")) > 0)
    for ((b, r) <- d19Confs.drop(1)) {
      val bandsCol = array((0 until b).map { j =>
        concat_ws("_", (0 until r).map(i =>
          element_at(col("mh"), j * r + i + 1)): _*)
      }: _*)
      val expl = banded.select(col("doc_id"), col("bucket"),
        posexplode(bandsCol).as(Seq("band_idx", "band_val")))
      val (_, cand) = bandCandidateCount(expl)
      if (cand <= budgetTotal) {
        val x = expl.select(col("doc_id").as("a_id"), col("bucket"),
          col("band_idx"), col("band_val"))
        val y = expl.select(col("doc_id").as("b_id"), col("bucket").as("b_bucket"),
          col("band_idx").as("b_idx"), col("band_val").as("b_val"))
        val pairs = x.join(y, col("bucket") === col("b_bucket") &&
            col("band_idx") === col("b_idx") && col("band_val") === col("b_val") &&
            col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id")).distinct()
        return d02Verify(pairs, sigs)
      }
    }
    throw new IllegalStateException(
      "d02: no banding config over 12 permutations fits the candidate " +
        s"budget ($budgetTotal total); raise spark.graft.d02." +
        "maxCandidatesPerDoc, raise the threshold, or shingle at word " +
        "n-grams (PLANS.md d02 contract analysis)")
  }

  private def d02(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    // the source is one small file (= one input split) but both the
    // shingle build and the pairwise probe are compute-bound: spread the
    // rows across all cores BEFORE computing shingles — tasks must be
    // sized by WORK, not input bytes
    val docs = d.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr(shinglesSpark).as("sh"),
        (col("n_chars") / 100).cast("long").as("bucket"))
    // one materialized signature table feeds both band-join sides and
    // both verify sides (same anti-inlining reasoning as d03); the
    // native minhash_sig computes all 12 permutation minima in one
    // codegen'd pass over the shingle array. LAZY checkpoint (round-12
    // verdict ask #6): the budget guard's count below is the first
    // action, so ONE job both materializes the signature blocks and
    // measures the candidate bill — the guard no longer pays a second
    // pass over the checkpoint (was +22 % on d02, BASELINE.md round-12).
    val sigs = docs.select(col("doc_id"), col("sh"), col("bucket"),
      expr(s"minhash_sig(sh, $d02Perms)").as("mh"))
      .localCheckpoint(false)
    val exploded = sigs.select(col("doc_id"), col("bucket"),
      posexplode(col("mh")).as(Seq("band_idx", "band_val")))
    // ---- candidate-budget guard (round 12) -------------------------------
    // d02's recall contract (≥ 0.98 at τ = 0.28 ⇒ r = 1 banding) prices
    // its candidate set at Θ(j̄·n²) on any corpus whose mean random-pair
    // shingle Jaccard j̄ does not vanish (PLANS.md, round-11 d02/d07
    // asymptote study). The guard measures that price EXACTLY before
    // paying it, and fails fast / re-tunes instead of silently running a
    // quadratic join at corpus scale:
    //   spark.graft.d02.maxCandidatesPerDoc  (default 2048 — ~2.2× the
    //     driver sf0.1 gate's measured 925/doc, well under the 31-word
    //     corpus's ~9k/doc at sf1 where the quadratic term owns the cost)
    //   spark.graft.d02.onBudgetExceeded ∈ fail | retune | proceed
    // "retune" re-bands at the most-recall (b, r) config from d19's
    // measured config×recall surface that fits the budget.
    val budget = s.conf.get("spark.graft.d02.maxCandidatesPerDoc", "2048").toLong
    val mode = s.conf.get("spark.graft.d02.onBudgetExceeded", "fail")
    if (mode != "fail" && mode != "retune" && mode != "proceed")
      throw new IllegalArgumentException(
        s"spark.graft.d02.onBudgetExceeded must be fail|retune|proceed, got '$mode'")
    val (nDocs, candCount) = bandCandidateCount(exploded)
    if (candCount > budget * nDocs && mode != "proceed") {
      if (mode == "retune") return d02Retuned(s, sigs, budget * nDocs)
      throw new IllegalStateException(
        s"d02: the 12-band r=1 gate would emit $candCount candidate pairs " +
          s"(~${candCount / math.max(nDocs, 1L)}/doc over $nDocs docs) — over " +
          s"the $budget/doc budget. Raise spark.graft.d02.maxCandidatesPerDoc, " +
          "set spark.graft.d02.onBudgetExceeded=retune to re-band along d19's " +
          "config×recall surface, raise the threshold (d03/d07 regime), or " +
          "shingle at word n-grams (PLANS.md d02 contract analysis).")
    }
    val x = exploded.select(col("doc_id").as("a_id"), col("bucket"),
      col("band_idx"), col("band_val"))
    val y = exploded.select(col("doc_id").as("b_id"), col("bucket").as("b_bucket"),
      col("band_idx").as("b_idx"), col("band_val").as("b_val"))
    val cand = x.join(y, col("bucket") === col("b_bucket") &&
        col("band_idx") === col("b_idx") && col("band_val") === col("b_val") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    d02Verify(cand, sigs)
  }
  // Round-12 oracle respelling (round-11 verdict ask #1a): the committed
  // form spent ~9 min of DuckDB time at sf0.1 — 12 per-permutation
  // interpreted list_transform lambdas over every doc, then
  // list_intersect (which DuckDB 1.0 macro-expands to an O(|a|·|b|)
  // list_filter(contains) lambda) per candidate pair, in pipelines
  // whose morsel sources are 5000-row doc tables (≤3 threads). The
  // respelling computes the IDENTICAL arithmetic in vectorized form:
  //  - signatures: unnest the shingle list once, mix v = (w·2654435761)
  //    % P once per shingle (the lambda form recomputed it 12×), then
  //    12 grouped MINs of (aₖ·v + bₖ) % P — min over the same multiset,
  //    same permutation family, same integer ops ⇒ same signatures;
  //  - |A∩B|: re-key each doc's shingle SET to dense indices (w →
  //    row_number over the distinct-w table: a bijection, so set
  //    intersection sizes are invariant) and store it as a DuckDB
  //    BITSTRING; |A∩B| = bit_count(a & b) and |A|, |B| = bit_count of
  //    each side — exact integer identities on sets, ~1 µs/pair vs
  //    ~100 µs for the lambda. jacc = i/(|A|+|B|−i), float-cast, as
  //    before. Verified tuple-exact against the committed spelling at
  //    sf0.01 AND sf0.1 (79 / 4381 rows); sf0.1 wall time 540 s → 13 s.
  // The 16384-bit bound is 8× the measured distinct-shingle vocabulary
  // of the driver corpora (2041 at sf0.1; 31-word vocabulary ⇒ V grows
  // ~Heaps-slowly); if a future corpus exceeded it, bitstring_agg
  // fails LOUDLY (out-of-range), never silently wrong.
  private val d02Sql = {
    val mins = (0 until d02Perms).map { k =>
      s"MIN((${permA(k)} * v + ${permB(k)}) % $P) AS m$k"
    }.mkString(", ")
    val mlist = (0 until d02Perms).map(k => s"m$k").mkString("[", ", ", "]")
    s"""WITH docs AS (
       | SELECT doc_id, $shinglesDuck AS sh,
       |        CAST(n_chars // 100 AS BIGINT) AS bucket
       | FROM documents),
       |expl AS (
       | SELECT doc_id, bucket, (CAST(w AS BIGINT) * 2654435761) % $P AS v, w
       | FROM docs, unnest(sh) AS t(w)),
       |sigs AS (
       | SELECT doc_id, bucket, $mins FROM expl GROUP BY 1, 2),
       |dict AS (
       | SELECT w, ROW_NUMBER() OVER (ORDER BY w) - 1 AS idx
       | FROM (SELECT DISTINCT w FROM expl)),
       |bs AS (
       | SELECT e.doc_id, bitstring_agg(d.idx, 0, 16383) AS bits
       | FROM expl e JOIN dict d ON d.w = e.w
       | GROUP BY 1),
       |bands AS (
       | SELECT doc_id, bucket,
       |  unnest(generate_series(0, ${d02Perms - 1})) AS band_idx,
       |  unnest($mlist) AS band_val
       | FROM sigs),
       |cand AS (
       | SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       | FROM bands x JOIN bands y
       |   ON x.bucket = y.bucket AND x.band_idx = y.band_idx
       |  AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
       |pairs AS (
       | SELECT c.a_id, c.b_id,
       |  CAST(bit_count(ba.bits & bb.bits) AS DOUBLE) AS isect,
       |  CAST(bit_count(ba.bits) + bit_count(bb.bits) AS DOUBLE) AS lsum
       | FROM cand c JOIN bs ba ON ba.doc_id = c.a_id
       | JOIN bs bb ON bb.doc_id = c.b_id)
       |SELECT a_id, b_id, CAST(isect / (lsum - isect) AS REAL) AS jacc
       |FROM pairs WHERE isect / (lsum - isect) >= $jaccThresh
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- d03: MinHash + LSH banding ----------------------------------------
  // 9 permutations, 3 bands of 3 rows: shingle -> minhash -> band ->
  // bucket-join -> exact-Jaccard verify. Band key is the concatenated
  // signature triple; candidates shuffle O(docs x 3) rows.
  private val nPerm = 9; private val bandRows = 3
  private val lshThresh = 0.30
  private def permA(k: Int): Long = 2L * k + 3
  private def permB(k: Int): Long = 7919L * k + 1
  private def d03(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    // sh as its own projection, referenced 9 times below: multiple
    // references to a non-cheap alias stop CollapseProject from inlining
    // the (expensive, interpreted-lambda) shingle build into every
    // signature — a single nested transform would rebuild+re-sort the
    // shingle array once PER PERMUTATION per row (9x, ~30 ms/doc).
    // spread rows before the (compute-bound) shingle+signature build
    val base0 = d.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr(shinglesSpark).as("sh"))
    // the signature table feeds FOUR plan branches (two band-join sides,
    // two verify-join sides); materialize it once — at cluster scale
    // this is the persisted signature table every LSH pipeline writes.
    // minhash_sig = all 9 permutation minima in one codegen'd pass.
    val sigs = base0.select(col("doc_id"), col("sh"),
      expr(s"minhash_sig(sh, $nPerm)").as("sigs"))
      .localCheckpoint()
    val base = sigs.select(col("doc_id"), col("sh"))
    val bands = array((0 until nPerm / bandRows).map { j =>
      concat_ws("_", (0 until bandRows).map(r =>
        element_at(col("sigs"), j * bandRows + r + 1)): _*)
    }: _*)
    // band join carries IDS ONLY — the shingle arrays would otherwise be
    // shuffled once per (pair, band) and again through dropDuplicates
    val exploded = sigs.select(col("doc_id"),
      posexplode(bands).as(Seq("band_idx", "band_val")))
    val x = exploded.select(col("doc_id").as("a_id"), col("band_idx"), col("band_val"))
    val y = exploded.select(col("doc_id").as("b_id"),
      col("band_idx").as("b_idx"), col("band_val").as("b_val"))
    val cand = x.join(y, col("band_idx") === col("b_idx") &&
        col("band_val") === col("b_val") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    // verify: join the (small) candidate set back to the docs
    val withSh = cand
      .join(base.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
    val inter = expr("sorted_intersect_count(a_sh, b_sh)").cast("double")
    val uni = (size(col("a_sh")) + size(col("b_sh"))).cast("double") - inter
    withSh.withColumn("jacc", inter / uni)
      .filter(col("jacc") >= lshThresh)
      .select(col("a_id"), col("b_id"), col("jacc").cast("float").as("jacc"))
      .orderBy(col("a_id"), col("b_id"))
  }
  private val d03Sql = {
    val sigK = (0 until nPerm).map { k =>
      s"list_min(list_transform(sh, " +
        s"w -> (${permA(k)} * ${mix("w")} + ${permB(k)}) % $P))"
    }
    val bandSelects = (0 until nPerm / bandRows).map { j =>
      val parts = (0 until bandRows)
        .map(r => s"CAST((${sigK(j * bandRows + r)}) AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, sh, $j AS band_idx, $parts AS band_val FROM docs"
    }.mkString(" UNION ALL ")
    s"""WITH docs AS (
       | SELECT doc_id, text, $shinglesDuck AS sh
       | FROM documents),
       |bands AS (BANDS_SQL),
       |cand AS (
       | SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |        x.sh AS a_sh, y.sh AS b_sh
       | FROM bands x JOIN bands y
       |   ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       |  AND x.doc_id < y.doc_id)
       |SELECT a_id, b_id,
       | CAST(CAST(len(list_intersect(a_sh, b_sh)) AS DOUBLE)
       |   / (CAST(len(a_sh) + len(b_sh) AS DOUBLE) - len(list_intersect(a_sh, b_sh))) AS REAL) AS jacc
       |FROM cand
       |WHERE CAST(len(list_intersect(a_sh, b_sh)) AS DOUBLE)
       |   / (CAST(len(a_sh) + len(b_sh) AS DOUBLE) - len(list_intersect(a_sh, b_sh))) >= $lshThresh
       |ORDER BY 1, 2""".stripMargin.replace("BANDS_SQL", bandSelects)
  }

  // ---- d07: EXACT similarity self-join via PPJoin prefix filtering -------
  // The exact complement to the approximate d02/d03 gates: for
  // Jaccard ≥ t, two shingle sets must share at least one element among
  // the first |s| − ⌈t·|s|⌉ + 1 under ANY global element order (prefix
  // filter: Chaudhuri/Ganti/Kaushik, "A Primitive Operator for
  // Similarity Joins", ICDE 2006; positional filter: Xiao et al.,
  // "Efficient Similarity Joins for Near Duplicate Detection",
  // WWW 2008) — so candidates come from an inverted-index equi-join on
  // prefix elements with ZERO false negatives. The global order is (document frequency, hash) ascending,
  // packed into one BIGINT key (df·2³² + hash): rarest shingles first,
  // so prefixes hit low-df postings and the candidate count tracks the
  // true result, not the corpus². A length filter (t·max ≤ min) prunes
  // further. The oracle is deliberately the UNFILTERED all-pairs SQL:
  // equal results prove the prefix filter is lossless, not just mirrored.
  // t = 0.8 is the operator's design point (short prefixes): prefix
  // filtering is the high-threshold exact path, d02/d03 the low-threshold
  // approximate one. On THIS corpus the filter is structurally blunted —
  // 2041 distinct shingles across 5k docs (median df 291) means almost
  // every length-compatible pair shares a prefix element; on a real
  // corpus (shingle vocab ~ corpus size) prefix postings are near-unique
  // and the candidate count tracks the true result set.
  // t = 4/5: every candidate-side bound uses EXACT integer arithmetic —
  // CEIL(0.8*n) in doubles rounds UP a whole unit when 0.8*n lands just
  // above an integer (0.8*235 = 188.0000000000000104 -> 189), silently
  // shortening the prefix, and `min >= 0.8*max` excludes the exact
  // J = t boundary (0.8*5 = 4.0000000000000002 > 4). The filters are
  // not mirrored in the oracle, so such a miss would be a REAL false
  // negative, not a mirrored quirk. ceil(p*n/q) = (p*n + q - 1) div q.
  private val ppThresh = 0.8
  private val ppNum = 4; private val ppDen = 5
  private val PackDf = 4294967296L // 2^32
  private def d07(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val docs = d.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr(shinglesSpark).as("sh"))
      .localCheckpoint() // feeds df build, prefix build, and both verify sides
    val dfreq = docs.select(explode(col("sh")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    // per doc: prefix = first (n - ceil(t*n) + 1) packed keys, rarest-first
    val prefixes = docs.select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("w"))
      .join(dfreq, "w") // vocab-sized table: AQE broadcasts locally, shuffles at corpus scale
      .select(col("doc_id"), col("n"), (col("df") * lit(PackDf) + col("w")).as("key"))
      .groupBy(col("doc_id"), col("n"))
      .agg(expr(s"slice(array_sort(collect_list(key)), 1, " +
        s"CAST(n - (($ppNum * n + $ppDen - 1) div $ppDen) + 1 AS INT))").as("prefix"))
    // LAZY checkpoint (the d02 fusion discipline): the candidate-budget
    // guard's count below is the first action, so one job materializes
    // the prefix index AND measures the bill; both join legs then read
    // the checkpointed blocks instead of re-running the df-join/sort.
    val idx = prefixes.select(col("doc_id"), col("n"),
      posexplode(col("prefix")).as(Seq("pos", "key")))
      .localCheckpoint(false)
    // ---- candidate-budget guard (round 13; d02's pattern) ----------------
    // The prefix self-join's row bill is EXACTLY Σ over prefix keys of
    // C(c, 2) — that is what the equi-join on `key` emits before the
    // length/positional conjuncts prune (they run as join filters, the
    // matches are still generated). On a corpus with non-vanishing mean
    // pair overlap (the 31-word driver corpus) this is Θ(n²) by the
    // exact-recall contract — the k-ladder pins k ≈ 1.2/1.8 — so at
    // corpus scale the engine REFUSES it by default instead of silently
    // paying:
    //   spark.graft.d07.maxCandidatesPerDoc (default 12288 — ~2.5× the
    //     measured driver-sf0.1 bill of 4936/doc; 448/doc at sf0.01.
    //     The per-doc bill itself grows ~linearly in n on this corpus —
    //     that IS the quadratic — so the default is sized to the
    //     largest driver gate, and anything past it is a deliberate
    //     opt-in. See D07BudgetGuardSpec.)
    //   spark.graft.d07.onBudgetExceeded ∈ fail | proceed
    // No retune mode: PPJoin is exact (no recall dial) — the advice is
    // a higher threshold (shorter prefixes), coarser shingles, or an
    // explicit opt-in via proceed.
    val budget = s.conf.get("spark.graft.d07.maxCandidatesPerDoc", "12288").toLong
    val mode = s.conf.get("spark.graft.d07.onBudgetExceeded", "fail")
    if (mode != "fail" && mode != "proceed")
      throw new IllegalArgumentException(
        s"spark.graft.d07.onBudgetExceeded must be fail|proceed, got '$mode'")
    val billRow = idx.groupBy(col("key"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("pos") === 0, 1L).otherwise(0L)).as("p0"))
      .agg(sum(expr("(c * (c - 1)) div 2")).as("bill"),
        sum(col("p0")).as("n_docs")).head()
    // empty/degenerate corpus (no prefix rows): the global agg returns
    // null sums — bill 0, nothing to guard, fall through to the (empty)
    // join instead of NPEing on getLong
    val bill = if (billRow.isNullAt(0)) 0L else billRow.getLong(0)
    val nDocs = math.max(if (billRow.isNullAt(1)) 0L else billRow.getLong(1), 1L)
    if (bill > budget * nDocs && mode != "proceed")
      throw new IllegalStateException(
        s"d07: the prefix index prices this corpus at $bill candidate " +
          s"pairs (~${bill / nDocs}/doc over $nDocs docs) — over the " +
          s"$budget/doc budget. PPJoin is exact, so there is no retune: " +
          "raise the threshold (shorter prefixes), shingle coarser, " +
          "raise spark.graft.d07.maxCandidatesPerDoc, or set " +
          "spark.graft.d07.onBudgetExceeded=proceed to opt into the " +
          "quadratic (PLANS.md d02/d07 contract analysis).")
    val x = idx.select(col("doc_id").as("a_id"), col("n").as("n_a"),
      col("pos").as("pos_a"), col("key"))
    val y = idx.select(col("doc_id").as("b_id"), col("n").as("n_b"),
      col("pos").as("pos_b"), col("key").as("b_key"))
    // positional filter (PPJoin): a shared element at 0-based canonical
    // position p leaves n − p elements (current + suffix) for the
    // overlap; if even min(remaining) cannot reach the required
    // t/(1+t)·(n_a+n_b) = (p/(p+q))·(n_a+n_b) overlap, the hit cannot
    // produce J ≥ t. Integer cross-multiplied forms of both bounds:
    //   min ≥ (p/q)·max        ⟺  q·min ≥ p·max
    //   rem ≥ (p/(p+q))·(na+nb) ⟺ (p+q)·rem ≥ p·(na+nb)
    val cand = x.join(y, col("key") === col("b_key") && col("a_id") < col("b_id") &&
        least(col("n_a"), col("n_b")) * ppDen >=
          greatest(col("n_a"), col("n_b")) * ppNum &&
        least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b")) * (ppNum + ppDen) >=
          (col("n_a") + col("n_b")) * ppNum)
      .select(col("a_id"), col("b_id")).distinct()
    val withSh = cand
      .join(docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
    // `inter` is referenced three times below — the multi-reference stops
    // CollapseProject from inlining the merge-walk into the filter, which
    // would otherwise be pushed into the join condition and re-evaluate
    // sorted_intersect_count up to 4x per candidate (measured ~2x cost)
    val scored = withSh.select(col("a_id"), col("b_id"),
      expr("sorted_intersect_count(a_sh, b_sh)").cast("double").as("inter"),
      (size(col("a_sh")) + size(col("b_sh"))).cast("double").as("sz"))
    scored
      .filter(col("inter") / (col("sz") - col("inter")) >= ppThresh)
      .select(col("a_id"), col("b_id"),
        (col("inter") / (col("sz") - col("inter"))).cast("float").as("jacc"))
      .orderBy(col("a_id"), col("b_id"))
  }
  // The REGISTERED oracle carries the length filter (round-11: the
  // driver's sf0.1 gate must run d07 unassisted — the unfiltered
  // all-pairs spelling is DuckDB-infeasible at 5k docs). The filter is
  // LOSSLESS, not an approximation: with a = |A| ≤ b = |B|,
  //   J(A,B) = |A∩B| / (a + b − |A∩B|) ≤ a / b   (|A∩B| ≤ a, J
  //   monotone in |A∩B|), so J ≥ t = $ppNum/$ppDen forces
  //   $ppDen·min(a,b) ≥ $ppNum·max(a,b). Every surviving pair is
  // verified by the exact Jaccard predicate unchanged, so the filtered
  // and unfiltered spellings return identical rows (hash-matched both
  // ways in round 2, 256 rows at sf0.1 — COVERAGE.md).
  // Round-12 respelling of the round-11 length-filtered oracle — same
  // lossless filter, same output, the verify arithmetic moved off the
  // per-pair list_intersect lambda (duckdb 1.0 macro-expands it to an
  // O(|a|·|b|) list_filter and re-evaluates it per projection; at sf0.1
  // the 3.7M length-filter survivors made that > 90 s). The bitstring
  // identity is the d02Sql one: dense re-key is a bijection on shingle
  // values, so |A∩B| = bit_count(a & b) and |A| = bit_count(a) exactly;
  // the id-pair candidates are joined on cheap integer columns FIRST so
  // only survivors copy bitmap payloads. Tuple-exact vs the round-11
  // spelling at sf0.01 and sf0.1; ~90+ s → ~17 s at sf0.1.
  private val d07Sql =
    s"""WITH docs AS (
       | SELECT doc_id, $shinglesDuck AS sh FROM documents),
       |expl AS (
       | SELECT doc_id, w FROM docs, unnest(sh) AS t(w)),
       |dict AS (
       | SELECT w, ROW_NUMBER() OVER (ORDER BY w) - 1 AS idx
       | FROM (SELECT DISTINCT w FROM expl)),
       |bs AS (
       | SELECT e.doc_id, bitstring_agg(d.idx, 0, 16383) AS bits
       | FROM expl e JOIN dict d ON d.w = e.w
       | GROUP BY 1),
       |lens AS (SELECT doc_id, bit_count(bits) AS n FROM bs),
       |cand AS (
       | SELECT a.doc_id AS a_id, b.doc_id AS b_id
       | FROM lens a JOIN lens b ON a.doc_id < b.doc_id
       | WHERE a.n > 0 AND b.n > 0
       |  AND $ppDen * LEAST(a.n, b.n) >= $ppNum * GREATEST(a.n, b.n)),
       |pairs AS (
       | SELECT c.a_id, c.b_id,
       |  CAST(bit_count(ba.bits & bb.bits) AS DOUBLE) AS isect,
       |  CAST(bit_count(ba.bits) + bit_count(bb.bits) AS DOUBLE) AS lsum
       | FROM cand c JOIN bs ba ON ba.doc_id = c.a_id
       | JOIN bs bb ON bb.doc_id = c.b_id)
       |SELECT a_id, b_id, CAST(isect / (lsum - isect) AS REAL) AS jacc
       |FROM pairs WHERE isect / (lsum - isect) >= $ppThresh
       |ORDER BY 1, 2""".stripMargin

  // ---- d04: SimHash signature --------------------------------------------
  // 16-bit sign-of-sum signature over shingle hashes; identical
  // signatures are near-dup candidates (n_bucket counts them).
  private val simBits = 16
  private def d04(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val base = d.select(col("doc_id"), expr(shinglesSpark).as("sh"))
    val bitSums: Seq[Column] = (0 until simBits).map { j =>
      expr(s"aggregate(transform(sh, " +
        s"w -> (((${mix("w")} >> $j) & 1) * 2 - 1)), 0L, (acc, v) -> acc + v)")
    }
    val sim = (0 until simBits).map { j =>
      when(bitSums(j) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val docs = base.select(col("doc_id"), sim.as("simhash"))
    docs.withColumn("n_bucket",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("simhash"))))
      .orderBy(col("doc_id"))
  }
  private val d04Sql = {
    val bitSums = (0 until simBits).map { j =>
      s"list_sum(list_transform(sh, " +
        s"w -> (((${mix("w")} >> $j) & 1) * 2 - 1)))"
    }
    val sim = (0 until simBits).map { j =>
      s"(CASE WHEN ${bitSums(j)} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""SELECT doc_id, simhash,
       | COUNT(*) OVER (PARTITION BY simhash) AS n_bucket
       |FROM (SELECT doc_id, $sim AS simhash
       |      FROM (SELECT doc_id, $shinglesDuck AS sh FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // ---- d05: embedding-cosine near-dup, hyperplane-LSH-gated --------------
  // Candidates come from 8 LSH tables of 2 sign-bits each (16
  // deterministic sin-literal hyperplanes over the first 16 dims, the
  // v02 construction) intersected with the label block; only candidates
  // get the exact cosine. Label-blocked all-pairs is O(block²) — a hot
  // label at 100 TB is millions of vectors — while the band join
  // shuffles O(vecs × 8) id-only rows. Recall at cos ≥ 0.25 is
  // 1-(1-p²)⁸ ≈ 0.96 with p = 1-acos(0.25)/π; the oracle mirrors the
  // gate. array_dot (native codegen loop) accumulates in array order —
  // bit-identical to the DuckDB left-fold; float32 cast absorbs ulps.
  // Norms are precomputed per vector (per DOC, not per pair).
  private val d05Tables = 8; private val d05BandBits = 2; private val d05Dims = 16
  private def d05Coef(p: Int, j: Int): Double = math.sin(1000 + p * d05Dims + j + 0.5)
  /** Band value for table `t`: little-endian integer of `d05BandBits`
    * hyperplane sign bits. Same string for both engines modulo elemAt. */
  private def d05Band(t: Int, emb: String, elemAt: (String, Int) => String): String = {
    val bits = (0 until d05BandBits).map { r =>
      val p = t * d05BandBits + r
      val dot = (0 until d05Dims)
        .map(j => s"CAST(${elemAt(emb, j + 1)} AS DOUBLE) * ${d05Coef(p, j)}")
        .mkString(" + ")
      s"(CASE WHEN ($dot) >= 0.0 THEN ${1 << r} ELSE 0 END)"
    }
    bits.mkString("(", " + ", ")")
  }
  private def d05(s: SparkSession, dir: String): DataFrame = {
    // native loop (plans.HyperplaneBands): the unrolled array(CASE…)
    // form is 8·2·16 element_at multiply terms — ONE projection method
    // past janino's 64 KB limit, which silently dropped 4 of d05's 5
    // stages to interpreted eval. Same arithmetic (ascending-j left
    // fold, float→double widening), verified by the unchanged oracle.
    val e = rd(s, dir, "embeddings")
      .withColumn("norm", sqrt(expr("array_dot(embedding, embedding)")))
      .withColumn("bands",
        expr(s"hyperplane_bands(embedding, $d05Tables, $d05BandBits, $d05Dims, 1000)"))
    val exploded = e.select(col("vec_id"), col("label"),
      posexplode(col("bands")).as(Seq("tbl", "bv")))
    val x = exploded.select(col("vec_id").as("a_id"), col("label"),
      col("tbl"), col("bv"))
    val y = exploded.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("tbl").as("b_tbl"), col("bv").as("b_bv"))
    val cand = x.join(y, col("label") === col("b_label") &&
        col("tbl") === col("b_tbl") && col("bv") === col("b_bv") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("label")).distinct()
    val withEmb = cand
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm")), "b_id")
    val cos = expr("array_dot(a_emb, b_emb)") / (col("a_norm") * col("b_norm"))
    withEmb.withColumn("cos", cos)
      .filter(col("cos") >= 0.25)
      .select(col("a_id"), col("b_id"), col("label"), col("cos").cast("float").as("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }
  private val d05Sql = {
    def dotDuck(x: String, y: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($x)), " +
        s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (acc, v) -> acc + v)"
    def duckElem(emb: String, i: Int) = s"$emb[$i]"
    val bandSelects = (0 until d05Tables).map { t =>
      s"SELECT vec_id, label, $t AS tbl, ${d05Band(t, "embedding", duckElem)} AS bv FROM embeddings"
    }.mkString(" UNION ALL ")
    val cos = s"${dotDuck("a.embedding", "b.embedding")} / " +
      s"(SQRT(${dotDuck("a.embedding", "a.embedding")}) * SQRT(${dotDuck("b.embedding", "b.embedding")}))"
    s"""WITH bands AS (BANDS_SQL),
       |cand AS (
       | SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id, x.label
       | FROM bands x JOIN bands y
       |   ON x.label = y.label AND x.tbl = y.tbl AND x.bv = y.bv
       |  AND x.vec_id < y.vec_id)
       |SELECT c.a_id, c.b_id, c.label, CAST($cos AS REAL) AS cos
       |FROM cand c
       | JOIN embeddings a ON a.vec_id = c.a_id
       | JOIN embeddings b ON b.vec_id = c.b_id
       |WHERE $cos >= 0.25
       |ORDER BY 1, 2""".stripMargin.replace("BANDS_SQL", bandSelects)
  }

  // ---- d09 / d10: word-8-gram occurrence table ----------------------------
  // One row per 8-gram OCCURRENCE (not distinct gram): d09 needs
  // positional coverage, d10 needs hit counts. The gram key is the md5
  // of the joined window — string keys keep the oracle SQL identical;
  // at 100 TB the key would be xxhash64 of the window (same plan shape,
  // smaller shuffle rows), exactly like d01's content hash.
  // Docs shorter than 8 tokens contribute no rows — the CASE guards
  // Spark's sequence(1, n<1) reversal (round-1 convention).
  private val gramN = 8
  private def wordGrams(d: DataFrame): DataFrame = {
    // tokenize ONCE per doc below the generator (see posWordGrams): the
    // inlined split(text) re-ran per GRAM inside the lambda — O(tokens²)
    // per doc. Gram hashing itself is unchanged.
    val gs = expr(
      s"""CASE WHEN size(ts) >= $gramN
         | THEN transform(sequence(1, size(ts) - ${gramN - 1}),
         |   i -> md5(array_join(slice(ts, i, $gramN), ' ')))
         | ELSE CAST(array() AS array<string>) END""".stripMargin)
    d.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), explode(gs).as("g"))
  }
  private val wordGramsDuck =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |grams AS (
       | SELECT doc_id, md5(array_to_string(ts[i:i+${gramN - 1}], ' ')) AS g
       | FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - ${gramN - 1})) AS i
       |       FROM toks WHERE len(ts) >= $gramN))""".stripMargin

  // ---- d09: cross-document duplicated-span coverage ------------------------
  // The "exact substring dedup" pass of training pipelines (the
  // suffix-array dedup of Lee et al. 2022, re-expressed as the
  // Spark-friendly n-gram inverted index): an 8-gram occurring in ≥2
  // distinct documents marks a duplicated span; per document report how
  // much of it is covered by duplicated spans. Plan shape at 100 TB:
  // explode is O(total tokens), the only shuffles are the gram-key
  // groupBy (map-side combine) and the gram-key coverage join — never
  // doc×doc. The gram table feeds two branches, so it is materialized
  // once (localCheckpoint) per round-1 convention.
  private def d09(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
    val grams = wordGrams(docs).localCheckpoint()
    val dup = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("g"), lit(1).as("is_dup"))
    val cov = grams.join(dup, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("is_dup")).as("n_dup_grams"))
    docs.select(col("doc_id")).join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce((col("n_dup_grams").cast("double") / col("n_grams")).cast("float"),
          lit(0.0f)).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }
  private val d09Sql =
    s"""WITH $wordGramsDuck,
       |dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
       |cov AS (SELECT doc_id, COUNT(*) AS n_grams,
       |        COUNT(*) FILTER (WHERE g IN (SELECT g FROM dup)) AS n_dup
       |        FROM grams GROUP BY doc_id)
       |SELECT d.doc_id,
       | COALESCE(cov.n_grams, 0) AS n_grams,
       | COALESCE(cov.n_dup, 0) AS n_dup_grams,
       | CAST(COALESCE(CAST(cov.n_dup AS DOUBLE) / cov.n_grams, 0.0) AS REAL) AS dup_ratio
       |FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- d10: benchmark decontamination ---------------------------------------
  // Flag training documents sharing any 8-gram with a held-out
  // evaluation set (here: every 97th document, standing in for the
  // benchmark suite). The eval gram set is SMALL by nature, so it is
  // broadcast — the contamination check is a map-side hash probe per
  // gram occurrence, no shuffle of the training side beyond the per-doc
  // count. This is the n-gram decontamination step of GPT-3/PaLM-style
  // data curation.
  private val contamMod = 97
  private def d10(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
    val grams = wordGrams(docs).localCheckpoint()
    val evalSet = grams.filter(col("doc_id") % contamMod === 0)
      .select(col("g")).distinct().withColumn("hit", lit(1))
    val hits = grams.filter(col("doc_id") % contamMod =!= 0)
      .join(broadcast(evalSet), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
    docs.filter(col("doc_id") % contamMod =!= 0)
      .select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) === 0).as("is_clean"))
      .orderBy(col("doc_id"))
  }
  private val d10Sql =
    s"""WITH $wordGramsDuck,
       |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % $contamMod = 0),
       |hits AS (SELECT doc_id, COUNT(*) AS n_grams,
       |         COUNT(*) FILTER (WHERE g IN (SELECT g FROM ev)) AS n_hit
       |         FROM grams WHERE doc_id % $contamMod != 0 GROUP BY doc_id)
       |SELECT d.doc_id,
       | COALESCE(h.n_grams, 0) AS n_grams,
       | COALESCE(h.n_hit, 0) AS n_contaminated,
       | COALESCE(h.n_hit, 0) = 0 AS is_clean
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.doc_id % $contamMod != 0
       |ORDER BY d.doc_id""".stripMargin

  // ---- d13: INCREMENTAL dedup (new batch vs existing corpus) --------------
  // The always-on ingestion shape: dedup an arriving batch (doc_id % 10
  // == 7, ~10%) against the standing corpus WITHOUT re-pairing the
  // corpus with itself. Exact layer: content-hash semi-join. Near-dup
  // layer: the d03 LSH machinery, but the band join is batch-bands ×
  // corpus-bands — candidate volume is O(batch × bands), independent of
  // corpus size, which is the property that makes continuous ingestion
  // feasible at 100 TB (the corpus side is the persisted signature/band
  // index every production pipeline maintains; here it is built in the
  // same job from one shared scan). Verification joins only candidate
  // pairs back to the shingle table, as in d03.
  private val batchMod = 10; private val batchRem = 7
  private def d13(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    // one scan builds hash + shingles + signatures for BOTH sides
    val base0 = d.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), md5(col("text")).as("chash"), expr(shinglesSpark).as("sh"))
    val sigs = base0.select(col("doc_id"), col("chash"), col("sh"),
      expr(s"minhash_sig(sh, $nPerm)").as("sigs"))
      .localCheckpoint()
    val isBatch = col("doc_id") % batchMod === batchRem
    val bandCols = array((0 until nPerm / bandRows).map { j =>
      concat_ws("_", (0 until bandRows).map(r =>
        element_at(col("sigs"), j * bandRows + r + 1)): _*)
    }: _*)
    val bands = sigs.select(col("doc_id"),
      posexplode(bandCols).as(Seq("band_idx", "band_val")))
    val batchBands = bands.filter(col("doc_id") % batchMod === batchRem)
      .select(col("doc_id").as("b_id"), col("band_idx"), col("band_val"))
    val corpusBands = bands.filter(col("doc_id") % batchMod =!= batchRem)
      .select(col("doc_id").as("c_id"),
        col("band_idx").as("c_idx"), col("band_val").as("c_val"))
    val cand = batchBands.join(corpusBands,
        col("band_idx") === col("c_idx") && col("band_val") === col("c_val"))
      .select(col("b_id"), col("c_id")).distinct()
    val shdf = sigs.select(col("doc_id"), col("sh"))
    val withSh = cand
      .join(shdf.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .join(shdf.select(col("doc_id").as("c_id"), col("sh").as("c_sh")), "c_id")
    val inter = expr("sorted_intersect_count(b_sh, c_sh)").cast("double")
    val uni = (size(col("b_sh")) + size(col("c_sh"))).cast("double") - inter
    val nearIds = withSh.withColumn("jacc", inter / uni)
      .filter(col("jacc") >= lshThresh)
      .select(col("b_id")).distinct()
      .withColumn("near", lit(true))
    val exactIds = sigs.filter(isBatch).select(col("doc_id"), col("chash"))
      .join(sigs.filter(!isBatch).select(col("chash")).distinct(), Seq("chash"),
        "left_semi")
      .select(col("doc_id")).withColumn("exact", lit(true))
    sigs.filter(isBatch).select(col("doc_id"))
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, col("doc_id") === col("b_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact"), lit(false)).as("exact_dup"),
        coalesce(col("near"), lit(false)).as("near_dup"),
        (coalesce(col("exact"), lit(false)) || coalesce(col("near"), lit(false)))
          .unary_!.as("keep"))
      .orderBy(col("doc_id"))
  }
  private val d13Sql = {
    val sigK = (0 until nPerm).map { k =>
      s"list_min(list_transform(sh, " +
        s"w -> (${permA(k)} * ${mix("w")} + ${permB(k)}) % $P))"
    }
    val bandSelects = (0 until nPerm / bandRows).map { j =>
      val parts = (0 until bandRows)
        .map(r => s"CAST((${sigK(j * bandRows + r)}) AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, sh, $j AS band_idx, $parts AS band_val FROM docs"
    }.mkString(" UNION ALL ")
    s"""WITH docs AS (
       | SELECT doc_id, text, $shinglesDuck AS sh
       | FROM documents),
       |bands AS (BANDS_SQL),
       |cand AS (
       | SELECT DISTINCT x.doc_id AS b_id, y.doc_id AS c_id,
       |        x.sh AS b_sh, y.sh AS c_sh
       | FROM bands x JOIN bands y
       |   ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       | WHERE x.doc_id % $batchMod = $batchRem AND y.doc_id % $batchMod != $batchRem),
       |near AS (
       | SELECT DISTINCT b_id FROM cand
       | WHERE CAST(len(list_intersect(b_sh, c_sh)) AS DOUBLE)
       |   / (CAST(len(b_sh) + len(c_sh) AS DOUBLE) - len(list_intersect(b_sh, c_sh)))
       |   >= $lshThresh),
       |ex AS (
       | SELECT DISTINCT b.doc_id FROM documents b
       | WHERE b.doc_id % $batchMod = $batchRem
       |  AND md5(b.text) IN (SELECT md5(text) FROM documents
       |                      WHERE doc_id % $batchMod != $batchRem))
       |SELECT d.doc_id,
       | d.doc_id IN (SELECT doc_id FROM ex) AS exact_dup,
       | d.doc_id IN (SELECT b_id FROM near) AS near_dup,
       | NOT (d.doc_id IN (SELECT doc_id FROM ex)
       |      OR d.doc_id IN (SELECT b_id FROM near)) AS keep
       |FROM documents d
       |WHERE d.doc_id % $batchMod = $batchRem
       |ORDER BY d.doc_id""".stripMargin.replace("BANDS_SQL", bandSelects)
  }

  // ---- d14: paragraph-level dedup with document REWRITE -------------------
  // The segment-granular dedup pass (RefinedWeb/Dolma style): chunk
  // every document into fixed 10-word segments, keep only the globally
  // FIRST occurrence of each distinct segment (ordered by doc, then
  // position — the deterministic "first writer wins" rule), and rebuild
  // each document from its surviving segments. Unlike d09 (which
  // reports duplicated-span coverage), this op APPLIES the edit. Plan
  // shape: explode is O(total segments); the only shuffles are the
  // first-occurrence window keyed by segment hash and the per-doc
  // rebuild groupBy — never doc×doc. Rebuilt text is emitted as
  // md5 + length, not the string, to keep the result compact.
  private val segWords = 10
  private def d14(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val segs = d
      .withColumn("toks", expr("filter(split(text, ' '), tk -> length(tk) > 0)"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, CAST(ceil(size(toks) / ${segWords}.0) AS INT) - 1), " +
          s"i -> concat_ws(' ', slice(toks, i * $segWords + 1, $segWords)))"))
        .as(Seq("seg_idx", "seg")))
    val w = Window.partitionBy(col("seg")).orderBy(col("doc_id"), col("seg_idx"))
    val kept = segs.withColumn("rk", row_number().over(w))
    // collect_list skips the null (non-kept) entries, mirroring the
    // oracle's CASE-WHEN string_agg; sort_array orders by seg_idx
    // (first struct field) so the rebuild is position-stable no matter
    // how the shuffle interleaved rows
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        org.apache.spark.sql.functions.sum(when(col("rk") === 1, 1L).otherwise(0L))
          .as("n_kept"),
        sort_array(collect_list(when(col("rk") === 1,
          struct(col("seg_idx"), col("seg"))))).as("ka"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        md5(concat_ws(" ", col("ka.seg"))).as("new_hash"),
        length(concat_ws(" ", col("ka.seg"))).cast("long").as("new_len"))
      .orderBy(col("doc_id"))
  }
  private val d14Sql =
    s"""WITH toks AS (
       | SELECT doc_id, list_filter(string_split(text, ' '), tk -> length(tk) > 0) AS tl
       | FROM documents),
       |segs AS (
       | SELECT doc_id, i - 1 AS seg_idx,
       |  array_to_string(tl[(i - 1) * $segWords + 1 : (i - 1) * $segWords + $segWords], ' ') AS seg
       | FROM toks, UNNEST(generate_series(1, CAST(ceil(len(tl) / ${segWords}.0) AS INTEGER))) AS t(i)),
       |ranked AS (
       | SELECT *, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rk
       | FROM segs)
       |SELECT doc_id, COUNT(*) AS n_segs,
       | CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       | md5(COALESCE(string_agg(CASE WHEN rk = 1 THEN seg END, ' ' ORDER BY seg_idx), '')) AS new_hash,
       | CAST(length(COALESCE(string_agg(CASE WHEN rk = 1 THEN seg END, ' ' ORDER BY seg_idx), '')) AS BIGINT) AS new_len
       |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- d15: normalize-then-dedup ------------------------------------------
  // Exact dedup AFTER canonical normalization (lowercase, strip
  // non-alphanumerics, collapse whitespace — t07's pass): catches the
  // near-identical copies raw md5 misses (case/punctuation/whitespace
  // variants). n_raw_variants counts how many RAW texts each normalized
  // group collapsed — the measurable win over d01. Same hash-groupBy
  // shape: one shuffle keyed by digest, map-side combine.
  private def d15(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    d.select(col("doc_id"), col("text"), md5(norm).as("norm_hash"))
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_copies"),
        countDistinct(md5(col("text"))).as("n_raw_variants"))
      .orderBy(col("norm_hash"))
  }
  private val d15Sql =
    """WITH n AS (
      | SELECT doc_id, text,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |       ' +', ' ', 'g'))) AS norm_hash
      | FROM documents)
      |SELECT norm_hash, MIN(doc_id) AS keeper, COUNT(*) AS n_copies,
      | COUNT(DISTINCT md5(text)) AS n_raw_variants
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- d16: content-defined chunking (rolling-hash boundaries) ------------
  // The storage-dedup chunker (Rabin/FastCDC family): a chunk boundary
  // falls wherever the rolling hash of the last 8 characters ≡ 0
  // (mod 32), so boundaries are CONTENT-anchored — insert one word at
  // the front of a document and fixed-stride chunks (t12) all shift
  // and nothing dedups, while CDC chunks realign after one boundary.
  // Everything is array HOFs in one projection (positions → window
  // hashes → boundary filter → slice), then one chunk-hash groupBy for
  // the cross-document sharing report. Window hash is the repo's
  // base-31 Horner + Knuth mix.
  private val cdcW = 8; private val cdcMask = 32
  private def cdcHash(charAt: Int => String): String =
    (0 until cdcW).map(charAt)
      .foldLeft("CAST(0 AS BIGINT)")((acc, ch) => s"($acc * 31 + $ch)")
  private def d16(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    // boundary at i (1-based, i ≥ w) iff mix(horner(text[i-7..i])) % 32 == 0
    // — native one-pass rolling scan (plans/CdcBounds.scala), arithmetic-
    // identical to the HOF spelling the Scaladoc there records; the HOF
    // form recomputed the 8-char window per position and was the
    // heaviest query in the suite (~7 s at sf0.1 → sub-second)
    val bounds = s"cdc_bounds(text, $cdcW, $cdcMask)"
    val chunks =
      s"filter(transform(sequence(1, size(bnd) - 1), " +
        s"j -> substring(text, element_at(bnd, j) + 1, " +
        s"element_at(bnd, j + 1) - element_at(bnd, j))), c -> length(c) > 0)"
    // one small input file = one split, but the per-character rolling
    // hash is compute-bound: spread rows across cores BEFORE the HOF
    // projection (same work-not-bytes sizing as d02)
    val perDoc = d.select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("bnd", expr(bounds))
      .withColumn("chunks", expr(chunks))
      .select(col("doc_id"), col("chunks"))
      .localCheckpoint() // feeds the per-doc stats AND the sharing join
    val chunkRows = perDoc.select(col("doc_id"),
      explode(col("chunks")).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("ch"))
    val shared = chunkRows.groupBy(col("ch"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
    chunkRows.join(shared, Seq("ch"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        org.apache.spark.sql.functions.sum(
          when(col("ndocs").isNotNull, 1L).otherwise(0L)).as("n_shared"))
      .orderBy(col("doc_id"))
  }
  private val d16Sql = {
    val h = cdcHash(k => s"ascii(substr(text, i - ${cdcW - 1} + $k, 1))")
    val bounds =
      s"list_concat(list_concat([CAST(0 AS BIGINT)], " +
        s"list_filter(list_transform(generate_series($cdcW, length(text)), " +
        s"i -> CASE WHEN (${mix(s"(($h) % $P)")}) % $cdcMask = 0 THEN i ELSE -1 END), i -> i > 0)), " +
        s"[CAST(length(text) AS BIGINT)])"
    s"""WITH b AS (
       | SELECT doc_id, text, $bounds AS bnd FROM documents),
       |ch AS (
       | SELECT doc_id,
       |  unnest(list_filter(list_transform(generate_series(1, len(bnd) - 1),
       |    j -> substr(text, bnd[j] + 1, bnd[j + 1] - bnd[j])), c -> length(c) > 0)) AS chunk
       | FROM b),
       |rows_ AS (SELECT doc_id, md5(chunk) AS chash FROM ch),
       |shared AS (SELECT chash, COUNT(DISTINCT doc_id) AS ndocs
       |           FROM rows_ GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2)
       |SELECT r.doc_id, COUNT(*) AS n_chunks,
       | CAST(SUM(CASE WHEN s.ndocs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |FROM rows_ r LEFT JOIN shared s ON r.chash = s.chash
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- d17: asymmetric containment dedup ----------------------------------
  // Catches doc-inside-doc duplication that symmetric Jaccard misses: a
  // 200-char quote fully contained in a 2000-char page has tiny Jaccard
  // but containment |A∩B| / min(|A|,|B|) ≈ 1. Candidates come from the
  // d02/d03 minhash machinery WITHOUT the length-bucket gate (the whole
  // point is pairs of very different lengths); the 12 permutation
  // minima pack into 3 bands of 4 rows (Horner band key — the d03
  // multi-row trick) so a collision needs 4 simultaneous minima
  // matches. On a degenerate near-similar corpus single-row bands
  // collide half the table and the candidate join explodes; packed
  // bands keep the ids-only shuffle O(docs × 3) with candidates
  // tracking true near-containment. Exact verify uses the native merge-walk
  // intersect over the checkpointed shingle table.
  private val containThresh = 0.9
  private val containBandRows = 4
  private def d17(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val docs = d.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr(shinglesSpark).as("sh"))
    val nBands = d02Perms / containBandRows
    val packExpr = (0 until containBandRows)
      .map(r => s"element_at(mh, b * $containBandRows + ${r + 1})")
      .foldLeft("CAST(0 AS BIGINT)")((acc, v) => s"($acc * 31 + $v)")
    val sigs = docs.select(col("doc_id"), col("sh"),
      expr(s"minhash_sig(sh, $d02Perms)").as("mh"))
      .localCheckpoint()
    val packed = sigs.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, ${nBands - 1}), b -> $packExpr)"))
      .as(Seq("band_idx", "band_val")))
    val cand = packed.as("x")
      .join(packed.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val withSh = cand
      .join(sigs.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
    val inter = expr("sorted_intersect_count(a_sh, b_sh)").cast("double")
    withSh
      .withColumn("containment",
        (inter / least(size(col("a_sh")), size(col("b_sh"))).cast("double"))
          .cast("float"))
      .filter(col("containment") >= containThresh)
      .select(col("a_id"), col("b_id"), col("containment"),
        when(size(col("a_sh")) <= size(col("b_sh")), lit("a_in_b"))
          .otherwise(lit("b_in_a")).as("direction"))
      .orderBy(col("a_id"), col("b_id"))
  }
  private val d17Sql = {
    val nBands = d02Perms / containBandRows
    val mh = (k: Int) => s"list_min(list_transform(sh, " +
      s"w -> (${permA(k)} * ${mix("w")} + ${permB(k)}) % $P))"
    val bandSelects = (0 until nBands).map { b =>
      val packed = (0 until containBandRows)
        .map(r => mh(b * containBandRows + r))
        .foldLeft("CAST(0 AS BIGINT)")((acc, v) => s"($acc * 31 + $v)")
      s"SELECT doc_id, $b AS band_idx, $packed AS band_val FROM docs"
    }.mkString(" UNION ALL ")
    s"""WITH docs AS (
       | SELECT doc_id, $shinglesDuck AS sh FROM documents),
       |bands AS ($bandSelects),
       |cand AS (
       | SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       | FROM bands x JOIN bands y
       |   ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       |  AND x.doc_id < y.doc_id),
       |scored AS (
       | SELECT a_id, b_id,
       |  CAST(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
       |    / LEAST(len(da.sh), len(db.sh)) AS REAL) AS containment,
       |  CASE WHEN len(da.sh) <= len(db.sh) THEN 'a_in_b' ELSE 'b_in_a' END AS direction
       | FROM cand JOIN docs da ON da.doc_id = cand.a_id
       |  JOIN docs db ON db.doc_id = cand.b_id)
       |SELECT a_id, b_id, containment, direction
       |FROM scored WHERE containment >= $containThresh
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- d19: LSH (bands × rows) tuning harness ------------------------------
  // Before an index build at corpus scale you pick (b, r) from DATA,
  // not from the S-curve alone: this harness runs every divisor config
  // of a K = 12 signature off ONE signature build (the persisted table
  // d03 writes), pools the union of all configs' candidates, exact-
  // verifies the pool ONCE, and reports per config the candidate count,
  // verified-hit count, and recall against the pooled hits — the
  // standard most-permissive-reference methodology (same role v08
  // plays for ANN nprobe/quantization). Bounded to one source bucket
  // so the most permissive config (r = 1) stays small; counts are
  // integers and recall is one division, so both engines agree exactly.
  private val d19Perms = 12
  private val d19Confs = Seq((12, 1), (6, 2), (4, 3), (3, 4), (2, 6), (1, 12))
  private val d19Thresh = 0.5
  private def d19(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents").filter(col("source") === "src0")
    val base0 = d.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr(shinglesSpark).as("sh"))
    val sigs = base0.select(col("doc_id"), col("sh"),
      expr(s"minhash_sig(sh, $d19Perms)").as("sigs"))
      .localCheckpoint() // one signature build feeds every config
    val cands = d19Confs.map { case (b, r) =>
      val bands = array((0 until b).map { j =>
        concat_ws("_", (0 until r).map(i =>
          element_at(col("sigs"), j * r + i + 1)): _*)
      }: _*)
      val exploded = sigs.select(col("doc_id"),
        posexplode(bands).as(Seq("band_idx", "band_val")))
      val x = exploded.select(col("doc_id").as("a_id"), col("band_idx"), col("band_val"))
      val y = exploded.select(col("doc_id").as("b_id"),
        col("band_idx").as("b_idx"), col("band_val").as("b_val"))
      x.join(y, col("band_idx") === col("b_idx") &&
          col("band_val") === col("b_val") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct()
        .select(lit(b).as("n_bands"), lit(r).as("band_rows"),
          col("a_id"), col("b_id"))
    }.reduce(_ unionAll _).localCheckpoint()
    val pool = cands.select(col("a_id"), col("b_id")).distinct()
    val withSh = pool
      .join(sigs.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
    val inter = expr("sorted_intersect_count(a_sh, b_sh)").cast("double")
    val uni = (size(col("a_sh")) + size(col("b_sh"))).cast("double") - inter
    val verified = withSh
      .select(col("a_id"), col("b_id"),
        when(inter / uni >= d19Thresh, 1L).otherwise(0L).as("hit"))
      .localCheckpoint() // the pool is verified exactly once
    val poolHits = verified.agg(sum(col("hit")).as("pool_hits"))
    val perConf = cands.join(verified, Seq("a_id", "b_id"))
      .groupBy(col("n_bands"), col("band_rows"))
      .agg(count(lit(1)).as("n_cand0"), sum(col("hit")).as("n_hits0"))
    // a config so strict it yields NO candidates must still appear in
    // the report (that's the finding) — join the sweep spine back on
    import s.implicits._
    val spine = d19Confs.toDF("n_bands", "band_rows")
    spine.join(perConf, Seq("n_bands", "band_rows"), "left")
      .select(col("n_bands"), col("band_rows"),
        coalesce(col("n_cand0"), lit(0L)).as("n_cand"),
        coalesce(col("n_hits0"), lit(0L)).as("n_hits"))
      .crossJoin(broadcast(poolHits))
      .select(col("n_bands"), col("band_rows"), col("n_cand"), col("n_hits"),
        expr("CAST(CASE WHEN pool_hits = 0 THEN 0.0D " +
          "ELSE CAST(n_hits AS DOUBLE) / pool_hits END AS FLOAT)").as("recall"))
      .orderBy(col("n_bands").desc)
  }
  private val d19Sql = {
    val sigK = (0 until d19Perms).map { k =>
      s"list_min(list_transform(sh, " +
        s"w -> ((${2L * k + 3L}) * ${mix("w")} + (${7919L * k + 1L})) % $P))"
    }
    val bandSelects = d19Confs.flatMap { case (b, r) =>
      (0 until b).map { j =>
        val parts = (0 until r)
          .map(i => s"CAST((${sigK(j * r + i)}) AS VARCHAR)")
          .mkString(" || '_' || ")
        s"SELECT doc_id, $b AS n_bands, $r AS band_rows, $j AS band_idx, $parts AS band_val FROM docs"
      }
    }.mkString(" UNION ALL ")
    s"""WITH docs AS (
       | SELECT doc_id, $shinglesDuck AS sh FROM documents WHERE source = 'src0'),
       |bands AS (BANDS_SQL),
       |cand AS (
       | SELECT DISTINCT x.n_bands, x.band_rows, x.doc_id AS a_id, y.doc_id AS b_id
       | FROM bands x JOIN bands y
       |   ON x.n_bands = y.n_bands AND x.band_rows = y.band_rows
       |  AND x.band_idx = y.band_idx AND x.band_val = y.band_val
       |  AND x.doc_id < y.doc_id),
       |pool AS (SELECT DISTINCT a_id, b_id FROM cand),
       |ver AS (
       | SELECT p.a_id, p.b_id,
       |  CASE WHEN CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
       |    / (CAST(len(da.sh) + len(db.sh) AS DOUBLE)
       |       - len(list_intersect(da.sh, db.sh))) >= $d19Thresh
       |   THEN 1 ELSE 0 END AS hit
       | FROM pool p
       | JOIN docs da ON da.doc_id = p.a_id
       | JOIN docs db ON db.doc_id = p.b_id),
       |ph AS (SELECT CAST(SUM(hit) AS BIGINT) AS pool_hits FROM ver),
       |per AS (
       | SELECT n_bands, band_rows, COUNT(*) AS n_cand,
       |  CAST(SUM(hit) AS BIGINT) AS n_hits
       | FROM cand JOIN ver USING (a_id, b_id)
       | GROUP BY 1, 2),
       |spine AS (SELECT * FROM (VALUES ${d19Confs
        .map { case (b, r) => s"($b, $r)" }.mkString(", ")}) AS t(n_bands, band_rows))
       |SELECT spine.n_bands, spine.band_rows,
       | COALESCE(per.n_cand, 0) AS n_cand,
       | COALESCE(per.n_hits, 0) AS n_hits,
       | CAST(CASE WHEN pool_hits = 0 THEN 0.0
       |  ELSE CAST(COALESCE(per.n_hits, 0) AS DOUBLE) / pool_hits END AS REAL) AS recall
       |FROM spine LEFT JOIN per USING (n_bands, band_rows) CROSS JOIN ph
       |ORDER BY n_bands DESC""".stripMargin.replace("BANDS_SQL", bandSelects)
  }

  // ---- d18: edit-distance join via deletion-neighborhood indexing ----------
  // SymSpell-style (Garbe's symmetric delete algorithm; same family as
  // FastSS, Schulz/Mihov "Fast string correction with Levenshtein
  // automata" for the k-bounded framing): two strings are within
  // Levenshtein distance 1 iff they share an entry in their
  // {self} ∪ {one-char deletions} neighborhoods — substitution pairs
  // share the deletion at the differing position, insert/delete pairs
  // hit each other's self entry. Candidates therefore come from an
  // EQUI-join on the exploded neighborhood (|s|+1 index rows per
  // string — O(n·len) total, never the O(n²) all-pairs), and an exact
  // levenshtein verify removes the false positives (shared deletion
  // but distance 2, e.g. "ab"/"ba"). The oracle is the unfiltered
  // all-pairs join: equal results prove the neighborhood index is
  // LOSSLESS at k = 1. The typo-variant dedup every text corpus needs,
  // in the shape that survives 100 TB.
  /** Lev-≤1 pairs from a single-column ("w") DataFrame of distinct
    * strings — the deletion-neighborhood index join + exact verify.
    * Shared with SymSpellSpec, which proves losslessness against brute
    * force on insert/delete/substitute cases the supplier data lacks. */
  private[graft] def symspellPairs(names: DataFrame): DataFrame = {
    val idx = names.select(col("w"), explode(concat(
      array(col("w")),
      expr("transform(sequence(1, length(w)), " +
        "i -> concat(substring(w, 1, i - 1), substring(w, i + 1)))"))).as("v"))
    idx.as("a").join(idx.as("b"),
        col("a.v") === col("b.v") && col("a.w") < col("b.w"))
      .select(col("a.w").as("a_name"), col("b.w").as("b_name"))
      .distinct()
      .filter(levenshtein(col("a_name"), col("b_name")) <= 1)
      .select(col("a_name"), col("b_name"),
        levenshtein(col("a_name"), col("b_name")).as("dist"))
  }

  private def d18(s: SparkSession, dir: String): DataFrame = {
    val names = rd(s, dir, "supplier")
      .select(lower(col("s_name")).as("w")).distinct()
      .localCheckpoint() // feeds the index build and both verify sides
    symspellPairs(names).orderBy(col("a_name"), col("b_name"))
  }
  private val d18Sql =
    """WITH n AS (SELECT DISTINCT lower(s_name) AS w FROM supplier)
      |SELECT a.w AS a_name, b.w AS b_name,
      | CAST(levenshtein(a.w, b.w) AS INT) AS dist
      |FROM n a JOIN n b ON a.w < b.w AND levenshtein(a.w, b.w) <= 1
      |ORDER BY 1, 2""".stripMargin

  // ---- d20: cross-source contamination matrix ------------------------------
  // Which corpus slices leak into which: pairwise shingle overlap
  // between SOURCES (the source-level analog of d10's eval-set
  // decontamination — run it before mixing to find feeds that are
  // re-crawls of each other). The corpus collapses to its distinct
  // (source, shingle) presence table first — the w06 inverted-presence
  // shape — so the pair join is keyed by shingle, candidates are
  // bounded by per-shingle source lists (≤ |sources|), and the output
  // is ≤ |sources|² rows at any corpus size. Jaccard from three exact
  // integers, one division, float32.
  private def d20(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val sg = d.select(col("source"), explode(expr(shinglesSpark)).as("g"))
      .distinct()
      .localCheckpoint() // one tokenize: feeds totals AND both join sides
    val tot = sg.groupBy(col("source")).agg(count(lit(1)).as("n_shingles"))
    val pairs = sg.as("a")
      .join(sg.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(tot.select(col("source").as("src_a"),
        col("n_shingles").as("na"))), "src_a")
      .join(broadcast(tot.select(col("source").as("src_b"),
        col("n_shingles").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"), col("na"), col("nb"),
        expr("CAST(CAST(shared AS DOUBLE) / (na + nb - shared) AS FLOAT)")
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }
  private val d20Sql =
    s"""WITH sg AS (
       | SELECT DISTINCT source, g FROM (
       |  SELECT source, UNNEST($shinglesDuck) AS g FROM documents)),
       |tot AS (SELECT source, COUNT(*) AS n_shingles FROM sg GROUP BY 1),
       |pairs AS (
       | SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
       | FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
       | GROUP BY 1, 2)
       |SELECT p.src_a, p.src_b, p.shared, ta.n_shingles AS na,
       | tb.n_shingles AS nb,
       | CAST(CAST(p.shared AS DOUBLE) / (ta.n_shingles + tb.n_shingles - p.shared)
       |   AS REAL) AS jaccard
       |FROM pairs p JOIN tot ta ON ta.source = p.src_a
       | JOIN tot tb ON tb.source = p.src_b
       |ORDER BY p.src_a, p.src_b""".stripMargin

  // ---- d21: sketched source-similarity matrix -----------------------------
  // The sketch counterpart of d20: d20 inventories every distinct shingle
  // per source (exact, but the inventory is corpus-sized); d21 keeps only
  // a K-permutation MinHash signature per source and estimates Jaccard as
  // the fraction of matching minima (Broder, "On the resemblance and
  // containment of documents", 1997). Because min is associative, the
  // signature of a source's shingle UNION is the element-wise min of its
  // documents' signatures — so the whole matrix costs one scan + a
  // groupBy(source) partial-min aggregate (K longs per group, map-side
  // combined) + a pairwise join of #sources rows. At 100 TB: corpus
  // touched once, cross stage is sketch-sized — the d20 inventory is
  // exactly what you can NOT afford there. Broadcast NLJ on the tiny
  // aggregated side; estimator error ~1/sqrt(K).
  private val srcPerms = 16
  private def d21(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val base = d.repartition(s.sparkContext.defaultParallelism)
      .select(col("source"), expr(shinglesSpark).as("sh"))
      .select(col("source"), expr(s"minhash_sig(sh, $srcPerms)").as("sigs"))
    val mins = (0 until srcPerms).map(k =>
      min(element_at(col("sigs"), k + 1)).as(s"m$k"))
    val sigs = base.groupBy(col("source"))
      .agg(mins.head, mins.tail: _*)
    val a = sigs.toDF(sigs.columns.map("a_" + _): _*)
    val b = sigs.toDF(sigs.columns.map("b_" + _): _*)
    val matches = (0 until srcPerms)
      .map(k => when(col(s"a_m$k") === col(s"b_m$k"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(broadcast(b), col("a_source") < col("b_source"))
      .select(col("a_source").as("src_a"), col("b_source").as("src_b"),
        matches.cast("long").as("n_match"),
        (matches.cast("double") / srcPerms).cast("float").as("est_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }
  private val d21Sql = {
    // extra parens around mix(): force the 31-bit mod BEFORE the permA
    // multiply (same value — mod distributes over the affine map — but
    // without it DuckDB's left-assoc `a * x % P` overflows INT64 once
    // permA(k) ≥ 29, i.e. k ≥ 13)
    val sigK = (0 until srcPerms).map { k =>
      s"MIN(list_min(list_transform(sh, " +
        s"w -> (${permA(k)} * (${mix("w")}) + ${permB(k)}) % $P))) AS m$k"
    }.mkString(",\n |  ")
    val matches = (0 until srcPerms)
      .map(k => s"CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH docs AS (
       | SELECT source, $shinglesDuck AS sh FROM documents),
       |sigs AS (
       | SELECT source,
       |  $sigK
       | FROM docs GROUP BY source)
       |SELECT a.source AS src_a, b.source AS src_b,
       | CAST($matches AS BIGINT) AS n_match,
       | CAST(CAST($matches AS DOUBLE) / $srcPerms AS REAL) AS est_jaccard
       |FROM sigs a JOIN sigs b ON a.source < b.source
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- d23: streaming-order novelty score ----------------------------------
  // The contribution scorer of dedup-aware curation (the "how much NEW
  // text does this doc add" signal used to order ingestion): a gram is
  // NOVEL in the first doc (lowest doc_id — the ingestion order) that
  // contains it; a doc's novelty is its fraction of distinct grams that
  // are first-seen there. One explode over the d09 gram machinery, a
  // gram-keyed MIN(doc_id) inverted index (map-side combined), and one
  // broadcast-free equi-join back — never doc × doc, never a rescan. At
  // 100 TB this is the d09 shuffle with a min instead of a count.
  private def d23(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val grams = wordGrams(d).distinct() // (doc, gram) once
    // first-seen attribution as ONE gram-partitioned window MIN instead
    // of groupBy + join-back: same key, one exchange of the corpus-sized
    // gram table instead of two (the d24 fusion; locally near
    // break-even because the window adds an in-partition sort, but the
    // saved exchange is what dominates at 100 TB).
    val wg = Window.partitionBy(col("g"))
    grams.withColumn("first_doc", min(col("doc_id")).over(wg))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams")).cast("float").as("novelty"))
      .orderBy(col("doc_id"))
  }
  private val d23Sql =
    s"""WITH $wordGramsDuck,
       |dg AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM grams),
       |first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY 1)
       |SELECT doc_id, COUNT(*) AS n_grams,
       | CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       | CAST(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |   / COUNT(*) AS REAL) AS novelty
       |FROM dg JOIN first_seen USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- d24: exact arbitrary-length duplicated-span extraction --------------
  // The full form of Lee et al. 2022 ("Deduplicating Training Data"):
  // remove every substring repeated ≥ threshold anywhere in the corpus
  // (their suffix-array pass), re-expressed relationally: POSITIONAL
  // 8-gram seeds (a repeat of length L ≥ 8 tokens contributes L−7
  // consecutive repeated 8-grams), dup-marked by corpus occurrence
  // count ≥ 2 (unlike d09's cross-doc-only rule this also catches a
  // within-document repeat — exactly Lee et al.'s criterion), then
  // merged into MAXIMAL spans by gaps-and-islands (u12's pos −
  // row_number trick) over each doc's hit positions. Output is one row
  // per maximal duplicated span with token bounds — the actionable
  // "cut these bytes" form, arbitrary length by construction.
  // Scale: the window partitions BY DOC (bounded by doc length, never
  // global); the only corpus-sized shuffles are the gram-count groupBy
  // (map-side combined) and one gram-keyed semi-join — d09's shape.
  private def posWordGrams(d: DataFrame): DataFrame = {
    // tokenize ONCE per doc in a projection below the generator: the
    // previous spelling inlined split(text) into the transform lambda,
    // where it re-ran per GRAM — O(tokens²) work per doc (r15
    // measurement: most of d24's ~2.9 s exec). The Generate boundary
    // keeps `ts` materialized per row; gram hashing is unchanged.
    val gs = expr(
      s"""CASE WHEN size(ts) >= $gramN
         | THEN transform(sequence(1, size(ts) - ${gramN - 1}),
         |   i -> md5(array_join(slice(ts, i, $gramN), ' ')))
         | ELSE CAST(array() AS array<string>) END""".stripMargin)
    d.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), posexplode(gs).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("g"))
  }
  private val posWordGramsDuck =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |pgrams AS (
       | SELECT doc_id, i AS pos,
       |  md5(array_to_string(ts[i:i+${gramN - 1}], ' ')) AS g
       | FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - ${gramN - 1})) AS i
       |       FROM toks WHERE len(ts) >= $gramN))""".stripMargin
  private def d24(s: SparkSession, dir: String): DataFrame = {
    val docs = rd(s, dir, "documents")
    val grams = posWordGrams(docs) // (doc, pos, gram)
    // corpus-frequency dup mark as ONE gram-partitioned window count —
    // the groupBy + join-back spelling shuffles the gram table twice on
    // the same key; the window form shuffles once (plus an in-partition
    // sort — locally about break-even, but at 100 TB one exchange of
    // the corpus-sized gram table is the difference that matters).
    // Window partitions by gram: bounded by one gram's occurrence
    // count, never global.
    val wg = Window.partitionBy(col("g"))
    val hits = grams
      .withColumn("cnt", count(lit(1)).over(wg))
      .filter(col("cnt") >= 2)
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(gramN - 1)).as("span_end"),
        count(lit(1)).as("n_seeds"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_seeds"))
      .orderBy(col("doc_id"), col("span_start"))
  }
  private val d24Sql =
    s"""WITH $posWordGramsDuck,
       |dup AS (SELECT g FROM pgrams GROUP BY g HAVING COUNT(*) >= 2),
       |hits AS (
       | SELECT doc_id, pos,
       |  pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       | FROM pgrams WHERE g IN (SELECT g FROM dup))
       |SELECT doc_id, MIN(pos) AS span_start,
       | MAX(pos) + ${gramN - 1} AS span_end,
       | MAX(pos) + ${gramN - 1} - MIN(pos) + 1 AS span_tokens,
       | COUNT(*) AS n_seeds
       |FROM hits GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin

  // ---- d25: LSH gate recall/precision eval ----------------------------------
  // The measurement half of candidate-gated dedup — v08's role for the
  // d-family: empirical recall of d02's 12-band minhash gate per exact-
  // Jaccard decile, against the closed-form expectation
  // 1 − (1−j)^12. Ground truth is the bucket-gated EXACT all-pairs set
  // (the operator's own domain — the bucket gate is deterministic
  // policy; this isolates the minhash probabilistic loss), run on the
  // corpus slice the way an index build qualifies its gate before
  // committing to 100 TB (the v08 sampled-slice rationale; the gate
  // itself never does this join in production).
  //
  // Determinism: jacc and the decile floor are exact doubles (integer
  // intersection counts, one division); the theory curve avoids POWER()
  // via three squarings and one multiply — identical IEEE ops on both
  // engines — and micro-quantizes at the edge.
  // The audit runs on a FIXED-SIZE qualification slice, because its
  // truth set is an exact bucket-gated all-pairs join — Θ(slice²), the
  // one shape that must never scale with the corpus. The slice is a
  // deterministic HASH-SPREAD sample, not a doc_id prefix (round-11
  // advice): keep doc where mixhash(doc_id) % step == 0 with
  // step = ⌈n/cap⌉, so an id-correlated corpus ordering (by source, by
  // crawl date) cannot bias the per-decile recall estimate the way
  // "first cap ids" would, and no 0-based-dense doc_id assumption is
  // needed. step = 1 at the driver's sf0.01/sf0.1 gates (500/5000 docs
  // ≤ cap ⇒ the whole corpus — behavior and hashes unchanged there);
  // above cap the expected slice is ~cap docs spread uniformly by hash.
  // The round-11 sf1 ladder measured the unsliced form at k=1.53
  // (2.8 → 97 s per decade); the sliced form is flat by construction.
  // Recall is a per-decile RATE — a spread sample estimates it as well
  // as the full corpus does (and better than a prefix on real data).
  private val d25SliceCap = 5000
  private def d25(s: SparkSession, dir: String): DataFrame = {
    val all = rd(s, dir, "documents")
    // one count() action just to pick the slice rate (O(metadata) work;
    // same value the SQL oracle derives via its scalar subquery)
    val step = (all.count() + d25SliceCap - 1) / d25SliceCap
    val d = all.filter(
      (col("doc_id") * lit(2654435761L)) % lit(P) % lit(step) === 0L)
    val docs = d.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr(shinglesSpark).as("sh"),
        (col("n_chars") / 100).cast("long").as("bucket"))
    val sigs = docs.select(col("doc_id"), col("sh"), col("bucket"),
      expr(s"minhash_sig(sh, $d02Perms)").as("mh"))
      .localCheckpoint() // feeds truth pairs AND the band candidates
    val inter = expr("sorted_intersect_count(a_sh, b_sh)").cast("double")
    val uni = (size(col("a_sh")) + size(col("b_sh"))).cast("double") - inter
    val truth = sigs.select(col("doc_id").as("a_id"), col("bucket"),
        col("sh").as("a_sh"))
      .join(sigs.select(col("doc_id").as("b_id"), col("bucket").as("b_bucket"),
        col("sh").as("b_sh")),
        col("bucket") === col("b_bucket") && col("a_id") < col("b_id"))
      .withColumn("jacc", inter / uni)
      .filter(col("jacc") >= jaccThresh)
      .select(col("a_id"), col("b_id"),
        least(floor(col("jacc") * 10), lit(9L)).cast("long").as("jd"))
      .localCheckpoint() // feeds the decile totals AND the caught join
    val exploded = sigs.select(col("doc_id"), col("bucket"),
      posexplode(col("mh")).as(Seq("band_idx", "band_val")))
    val cand = exploded.select(col("doc_id").as("a_id"), col("bucket"),
        col("band_idx"), col("band_val"))
      .join(exploded.select(col("doc_id").as("b_id"),
        col("bucket").as("b_bucket"), col("band_idx").as("b_idx"),
        col("band_val").as("b_val")),
        col("bucket") === col("b_bucket") && col("band_idx") === col("b_idx")
          && col("band_val") === col("b_val") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val caught = truth.join(cand, Seq("a_id", "b_id"), "left_semi")
      .groupBy(col("jd")).agg(count(lit(1)).as("n_caught"))
    truth.groupBy(col("jd")).agg(count(lit(1)).as("n_truth"))
      .join(caught, Seq("jd"), "left")
      .select(col("jd"), col("n_truth"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        expr("CAST(floor(1e6 * coalesce(n_caught, 0) / n_truth) AS BIGINT)")
          .as("recall_micro"),
        expr("CAST(floor(1e6 * (1.0 - (((1.0 - (jd + 0.5) / 10) * (1.0 - (jd + 0.5) / 10)) " +
          "* ((1.0 - (jd + 0.5) / 10) * (1.0 - (jd + 0.5) / 10))) " +
          "* (((1.0 - (jd + 0.5) / 10) * (1.0 - (jd + 0.5) / 10)) " +
          "* ((1.0 - (jd + 0.5) / 10) * (1.0 - (jd + 0.5) / 10))) " +
          "* (((1.0 - (jd + 0.5) / 10) * (1.0 - (jd + 0.5) / 10)) " +
          "* ((1.0 - (jd + 0.5) / 10) * (1.0 - (jd + 0.5) / 10)))) + 0.5) AS BIGINT)")
          .as("theory_micro"))
      .orderBy(col("jd"))
  }
  // Round-12 oracle respelling (same pattern and equivalence argument as
  // d02Sql): vectorized unnest-min signatures instead of 12 interpreted
  // list_transform lambdas, and dense-rekeyed BITSTRING intersections
  // instead of per-pair list_intersect (which duckdb 1.0 macro-expands
  // to an O(|a|·|b|) lambda and re-evaluates per projection) — the
  // truth set is an all-pairs bucket join, so the per-pair cost is THE
  // cost (measured: 227 s → ~15 s at sf0.1). Identical arithmetic:
  // min over the same permutation multiset; |A∩B| = bit_count(a & b)
  // under a bijective re-key. The 16384-bit bound fails loudly. Every\n  // CTE is referenced once (truth's caught/total split now rides one\n  // EXISTS flag column) — duckdb 1.0 re-inlines per reference.
  private val d25Sql = {
    val mins = (0 until d02Perms).map { k =>
      s"MIN((${permA(k)} * v + ${permB(k)}) % $P) AS m$k"
    }.mkString(", ")
    val mlist = (0 until d02Perms).map(k => s"m$k").mkString("[", ", ", "]")
    val q2 = "((1.0 - (tt.jd + 0.5) / 10) * (1.0 - (tt.jd + 0.5) / 10))"
    val q4 = s"($q2 * $q2)"
    val jac = "(CAST(bit_count(a.bits & b.bits) AS DOUBLE) " +
      "/ (CAST(bit_count(a.bits) + bit_count(b.bits) AS DOUBLE) - bit_count(a.bits & b.bits)))"
    s"""WITH stp AS (
       | SELECT (COUNT(*) + ${d25SliceCap - 1}) // $d25SliceCap AS step
       | FROM documents),
       |docs AS (
       | SELECT doc_id, $shinglesDuck AS sh,
       |        CAST(n_chars // 100 AS BIGINT) AS bucket
       | FROM documents
       | WHERE ((doc_id * 2654435761) % $P) % (SELECT step FROM stp) = 0),
       |expl AS (
       | SELECT doc_id, bucket, (CAST(w AS BIGINT) * 2654435761) % $P AS v, w
       | FROM docs, unnest(sh) AS t(w)),
       |sigs AS (
       | SELECT doc_id, bucket, $mins FROM expl GROUP BY 1, 2),
       |dict AS (
       | SELECT w, ROW_NUMBER() OVER (ORDER BY w) - 1 AS idx
       | FROM (SELECT DISTINCT w FROM expl)),
       |bs AS (
       | SELECT e.doc_id, e.bucket, bitstring_agg(d.idx, 0, 16383) AS bits
       | FROM expl e JOIN dict d ON d.w = e.w
       | GROUP BY 1, 2),
       |truth AS (
       | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(LEAST(FLOOR(($jac) * 10), 9) AS BIGINT) AS jd
       | FROM bs a JOIN bs b
       |   ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       | WHERE $jac >= $jaccThresh),
       |bands AS (
       | SELECT doc_id, bucket,
       |  unnest(generate_series(0, ${d02Perms - 1})) AS band_idx,
       |  unnest($mlist) AS band_val
       | FROM sigs),
       |cand AS (
       | SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       | FROM bands x JOIN bands y
       |   ON x.bucket = y.bucket AND x.band_idx = y.band_idx
       |  AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
       |flags AS (
       | SELECT t.jd,
       |  CASE WHEN EXISTS (SELECT 1 FROM cand c
       |                    WHERE c.a_id = t.a_id AND c.b_id = t.b_id)
       |   THEN 1 ELSE 0 END AS hit
       | FROM truth t),
       |tt AS (
       | SELECT jd, COUNT(*) AS n_truth, CAST(SUM(hit) AS BIGINT) AS n_caught
       | FROM flags GROUP BY 1)
       |SELECT tt.jd, tt.n_truth, tt.n_caught,
       | CAST(FLOOR(1e6 * tt.n_caught / tt.n_truth) AS BIGINT)
       |   AS recall_micro,
       | CAST(FLOOR(1e6 * (1.0 - $q4 * $q4 * $q4) + 0.5) AS BIGINT)
       |   AS theory_micro
       |FROM tt
       |ORDER BY tt.jd""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d25_lsh_recall_eval" -> (d25 _),
    "d24_substring_exact" -> (d24 _),
    "d23_novelty_score" -> (d23 _),
    "d21_source_similarity" -> (d21 _),
    "d20_source_overlap" -> (d20 _),
    "d19_lsh_tuning" -> (d19 _),
    "d18_symspell_join" -> (d18 _),
    "d17_containment" -> (d17 _),
    "d15_normalized_dedup" -> (d15 _),
    "d16_cdc_chunking" -> (d16 _),
    "d14_paragraph_rewrite" -> (d14 _),
    "d13_incremental_dedup" -> (d13 _),
    "d01_exact_dedup" -> (d01 _),
    "d02_jaccard_neardup" -> (d02 _),
    "d03_minhash_lsh" -> (d03 _),
    "d04_simhash" -> (d04 _),
    "d05_embedding_neardup" -> (d05 _),
    "d07_ppjoin_exact" -> (d07 _),
    "d09_substring_dup" -> (d09 _),
    "d10_decontaminate" -> (d10 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "d25_lsh_recall_eval" -> d25Sql,
    "d24_substring_exact" -> d24Sql,
    "d23_novelty_score" -> d23Sql,
    "d21_source_similarity" -> d21Sql,
    "d20_source_overlap" -> d20Sql,
    "d19_lsh_tuning" -> d19Sql,
    "d18_symspell_join" -> d18Sql,
    "d17_containment" -> d17Sql,
    "d15_normalized_dedup" -> d15Sql,
    "d16_cdc_chunking" -> d16Sql,
    "d14_paragraph_rewrite" -> d14Sql,
    "d13_incremental_dedup" -> d13Sql,
    "d01_exact_dedup" -> d01Sql,
    "d02_jaccard_neardup" -> d02Sql,
    "d03_minhash_lsh" -> d03Sql,
    "d04_simhash" -> d04Sql,
    "d05_embedding_neardup" -> d05Sql,
    "d07_ppjoin_exact" -> d07Sql,
    "d09_substring_dup" -> d09Sql,
    "d10_decontaminate" -> d10Sql
  ).view
}
