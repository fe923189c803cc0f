package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-level search / layout / sketch operators for training-data
  * pipelines: BM25 keyword ranking, Z-order data-layout clustering, and
  * a Count-Min frequency sketch.
  *
  * Scale design notes per operator are inline; the common theme is that
  * every corpus-wide statistic these need (document frequency, average
  * length, sketch tables) is either a scalar or a vocab/width-sized
  * table — broadcast-joined, never shuffled with the fact table.
  */
object SearchQueries extends QueryFamily {

  private val P = 2147483647L // 2^31 - 1

  // ---- w01: BM25 keyword ranking -----------------------------------------
  // The retrieval scorer behind corpus search / quality filtering
  // (Robertson/Sparck-Jones BM25, k1 = 1.2, b = 0.75). Per-document
  // term frequencies are array HOFs over the tokenized text (no
  // (doc, term) explode for a fixed query — the tf columns ride the
  // scan projection); the only corpus-wide inputs are N, avgdl, and one
  // df per query term — a single 1-row aggregate broadcast to every
  // partition. At 100 TB that is a scan + a scalar cross join; nothing
  // quadratic, nothing keyed by term. Float determinism: the 3-term
  // score sum is written with identical left-to-right parenthesization
  // on both engines and cast to float32 before ranking; doc_id breaks
  // rank ties.
  private val bmTerms = Seq("join", "hash", "scan")
  private val bmK1 = "1.2"; private val bmB = "0.75"
  private val bmTopK = 50
  /** BM25-ranked top-K list, shared by w01 (formatting) and w04 (RRF
    * fusion). Returns (rank, doc_id, tf0..tf2, score), rank <= bmTopK. */
  private def bm25Ranked(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val tfCols = bmTerms.zipWithIndex.map { case (t, i) =>
      expr(s"size(filter(ts, w -> w = '$t'))").as(s"tf$i")
    }
    // tokenize ONCE: the materialized (doc_id, dl, tf*) reduction feeds
    // both the stats aggregate and the scoring branch — without it the
    // text column is scanned and split twice, and the score>0 filter
    // gets pushed into the stats cross join where constraint inference
    // re-evaluates the tokenize lambdas per row
    // tokenize ONCE per row below the tf projection: the per-term
    // filter(split(text)) spelling re-split the text once per term
    // plus once for dl (r15)
    val base = d.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(Seq(col("doc_id"), size(col("ts")).as("dl")) ++ tfCols: _*)
      .localCheckpoint()
    val statCols = Seq(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")) ++
      bmTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
    val termScore = bmTerms.indices.map { i =>
      val idf = s"ln(1.0 + (CAST(n_docs AS DOUBLE) - df$i + 0.5) / (df$i + 0.5))"
      s"($idf * (tf$i * ($bmK1 + 1.0)) / " +
        s"(tf$i + $bmK1 * (1.0 - $bmB + $bmB * dl / avgdl)))"
    }.mkString(" + ") // left-assoc fold, mirrored verbatim in the oracle
    // top-k via orderBy+limit => TakeOrderedAndProject: each partition
    // keeps a k-row heap, the driver merges k·P rows — no corpus-wide
    // single-partition sort. row_number ran here before; limit(k) on the
    // same total order (score desc, doc_id asc) selects identical rows.
    // The rank window then runs over <= bmTopK rows, not the corpus.
    val top = scored.withColumn("score", expr(termScore).cast("float"))
      .filter(col("score") > 0.0f)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(bmTopK)
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("tf0"), col("tf1"), col("tf2"),
        col("score"))
  }
  private def w01(s: SparkSession, dir: String): DataFrame =
    bm25Ranked(s, dir)
      .select(col("rank"), col("doc_id"),
        col("tf0").as("tf_" + bmTerms(0)), col("tf1").as("tf_" + bmTerms(1)),
        col("tf2").as("tf_" + bmTerms(2)), col("score"))
      .orderBy(col("rank"))
  /** DuckDB CTE chain ending in `bmranked(rank, doc_id, tf0..2, score)`
    * — the SQL twin of [[bm25Ranked]], shared by w01Sql and w04Sql. */
  private val bm25RankedCtes = {
    val tfCols = bmTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(string_split(text, ' '), w -> w = '$t')) AS tf$i"
    }.mkString(", ")
    val dfCols = bmTerms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val termScore = bmTerms.indices.map { i =>
      val idf = s"ln(1.0 + (CAST(n_docs AS DOUBLE) - df$i + 0.5) / (df$i + 0.5))"
      s"($idf * (tf$i * ($bmK1 + 1.0)) / " +
        s"(tf$i + $bmK1 * (1.0 - $bmB + $bmB * dl / avgdl)))"
    }.mkString(" + ")
    s"""base AS (
       | SELECT doc_id, len(string_split(text, ' ')) AS dl, $tfCols
       | FROM documents),
       |stats AS (
       | SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfCols
       | FROM base),
       |scored AS (
       | SELECT doc_id, tf0, tf1, tf2,
       |  CAST($termScore AS REAL) AS score
       | FROM base CROSS JOIN stats),
       |bmranked AS (
       | SELECT rank, doc_id, tf0, tf1, tf2, score
       | FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
       |       FROM scored WHERE score > 0.0)
       | WHERE rank <= $bmTopK)""".stripMargin
  }
  private val w01Sql =
    s"""WITH $bm25RankedCtes
       |SELECT rank, doc_id, tf0 AS tf_${bmTerms(0)}, tf1 AS tf_${bmTerms(1)},
       | tf2 AS tf_${bmTerms(2)}, score
       |FROM bmranked ORDER BY rank""".stripMargin

  // ---- w08: query-likelihood ranking, Dirichlet smoothing ------------------
  // The language-modeling retrieval scorer (Zhai & Lafferty, SIGIR 2001):
  // score(q, d) = Σ_t ln((tf_t + μ·p(t|C)) / (dl + μ)) with Dirichlet
  // prior μ = 2000 and collection model p(t|C) = cf_t / total_tokens.
  // Same scale shape as BM25 (w01): per-doc tf via array HOFs on the
  // scan projection, corpus statistics (3 collection frequencies +
  // total token count) as ONE 1-row aggregate broadcast, top-k through
  // the distributed TakeOrderedAndProject — no corpus-wide funnel.
  // Determinism: the 3-term sum is a fixed left-to-right fold shared
  // verbatim with the oracle, cast float32; doc_id breaks ties.
  private val qlMu = "2000.0"
  private val qlTopK = 50
  private def w08(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val tfCols = bmTerms.zipWithIndex.map { case (t, i) =>
      expr(s"size(filter(ts, w -> w = '$t'))").as(s"tf$i")
    }
    // tokenize ONCE per row below the tf projection: the per-term
    // filter(split(text)) spelling re-split the text once per term
    // plus once for dl (r15)
    val base = d.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(Seq(col("doc_id"), size(col("ts")).as("dl")) ++ tfCols: _*)
      .localCheckpoint() // one tokenize: feeds the stats agg AND scoring
    val statCols = sum(col("dl")).cast("double").as("c_tokens") +:
      bmTerms.indices.map(i => sum(col(s"tf$i")).cast("double").as(s"cf$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val termScore = bmTerms.indices.map { i =>
      s"ln((tf$i + $qlMu * (cf$i / c_tokens)) / (dl + $qlMu))"
    }.mkString(" + ")
    val matched = bmTerms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    val top = base.crossJoin(broadcast(stats))
      .filter(expr(matched))
      .withColumn("score", expr(termScore).cast("float"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(qlTopK)
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"),
        col("tf0").as("tf_" + bmTerms(0)), col("tf1").as("tf_" + bmTerms(1)),
        col("tf2").as("tf_" + bmTerms(2)), col("score"))
      .orderBy(col("rank"))
  }
  private val w08Sql = {
    val tfCols = bmTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(string_split(text, ' '), w -> w = '$t')) AS tf$i"
    }.mkString(", ")
    val cfCols = bmTerms.indices.map(i =>
      s"CAST(SUM(tf$i) AS DOUBLE) AS cf$i").mkString(", ")
    val termScore = bmTerms.indices.map { i =>
      s"ln((tf$i + $qlMu * (cf$i / c_tokens)) / (dl + $qlMu))"
    }.mkString(" + ")
    val matched = bmTerms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH base AS (
       | SELECT doc_id, len(string_split(text, ' ')) AS dl, $tfCols
       | FROM documents),
       |stats AS (
       | SELECT CAST(SUM(dl) AS DOUBLE) AS c_tokens, $cfCols FROM base),
       |scored AS (
       | SELECT doc_id, tf0, tf1, tf2,
       |  CAST($termScore AS REAL) AS score
       | FROM base CROSS JOIN stats WHERE $matched)
       |SELECT rank, doc_id, tf0 AS tf_${bmTerms(0)}, tf1 AS tf_${bmTerms(1)},
       | tf2 AS tf_${bmTerms(2)}, score
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM scored)
       |WHERE rank <= $qlTopK ORDER BY rank""".stripMargin
  }

  // ---- w10: tiered retrieval via champion lists ----------------------------
  // The impact-ordered-postings trick production search engines use to
  // avoid scoring the whole matching set: per query term, keep only
  // its CHAMPION LIST (the top-C docs by that term's tf); the
  // candidate set is the union of champion lists, and full BM25 runs
  // on candidates only. The approximation contract is explicit (a doc
  // outside every champion list cannot be retrieved — recall is traded
  // for a candidate set bounded by |terms|·C however large the
  // corpus), and the ORACLE MIRRORS THE GATE, so the driver checks the
  // gated operator exactly (the LSH-family convention). Champion
  // selection is a per-term distributed top-C (orderBy+limit per term
  // — three tiny TakeOrderedAndProjects), never a corpus-wide window.
  private val champC = 100
  private val champTopK = 10
  private def w10(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val tfCols = bmTerms.zipWithIndex.map { case (t, i) =>
      expr(s"size(filter(ts, w -> w = '$t'))").as(s"tf$i")
    }
    // tokenize ONCE per row below the tf projection: the per-term
    // filter(split(text)) spelling re-split the text once per term
    // plus once for dl (r15)
    val base = d.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(Seq(col("doc_id"), size(col("ts")).as("dl")) ++ tfCols: _*)
      .localCheckpoint()
    val statCols = Seq(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")) ++
      bmTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val champions = bmTerms.indices.map { i =>
      base.filter(col(s"tf$i") > 0)
        .orderBy(col(s"tf$i").desc, col("doc_id").asc)
        .limit(champC)
        .select(col("doc_id"))
    }.reduce(_ unionAll _).distinct()
    val termScore = bmTerms.indices.map { i =>
      val idf = s"ln(1.0 + (CAST(n_docs AS DOUBLE) - df$i + 0.5) / (df$i + 0.5))"
      s"($idf * (tf$i * ($bmK1 + 1.0)) / " +
        s"(tf$i + $bmK1 * (1.0 - $bmB + $bmB * dl / avgdl)))"
    }.mkString(" + ")
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    base.join(champions, Seq("doc_id"), "left_semi")
      .crossJoin(broadcast(stats))
      .withColumn("score", expr(termScore).cast("float"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(champTopK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("score"))
      .orderBy(col("rank"))
  }
  private val w10Sql = {
    val tfCols = bmTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(string_split(text, ' '), w -> w = '$t')) AS tf$i"
    }.mkString(", ")
    val dfCols = bmTerms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val champs = bmTerms.indices.map(i =>
      s"(SELECT doc_id FROM base WHERE tf$i > 0 ORDER BY tf$i DESC, doc_id ASC LIMIT $champC)")
      .mkString("\n  UNION\n  ")
    val termScore = bmTerms.indices.map { i =>
      val idf = s"ln(1.0 + (CAST(n_docs AS DOUBLE) - df$i + 0.5) / (df$i + 0.5))"
      s"($idf * (tf$i * ($bmK1 + 1.0)) / " +
        s"(tf$i + $bmK1 * (1.0 - $bmB + $bmB * dl / avgdl)))"
    }.mkString(" + ")
    s"""WITH base AS (
       | SELECT doc_id, len(string_split(text, ' ')) AS dl, $tfCols
       | FROM documents),
       |stats AS (
       | SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfCols
       | FROM base),
       |champs AS (
       |  $champs),
       |scored AS (
       | SELECT b.doc_id, CAST($termScore AS REAL) AS score
       | FROM base b JOIN (SELECT DISTINCT doc_id FROM champs) c USING (doc_id)
       | CROSS JOIN stats)
       |SELECT rank, doc_id, score
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM scored)
       |WHERE rank <= $champTopK ORDER BY rank""".stripMargin
  }

  // ---- w02: Z-order (Morton) layout clustering -----------------------------
  // The multi-dimensional data-layout key behind OPTIMIZE ZORDER /
  // range-clustered parquet: interleave the bits of two quantized
  // dimensions so one range partitioning bounds BOTH columns, and
  // min/max file stats prune on either. Bit extraction is pure integer
  // div/mod arithmetic (engine-portable, no bit operators), the bucket
  // is a fixed-width slice of the z range (z div 2^15) — no global
  // sort, no window; at scale the same key feeds repartitionByRange +
  // sortWithinPartitions at write time. The per-bucket min/max report
  // IS the pruning claim: each z bucket bounds a small sub-rectangle of
  // (custkey, price) space, which per-dimension range partitioning
  // cannot do for the second dimension.
  private val zBits = 10 // 10 bits/dim -> z in [0, 4^10)
  private val zBuckets = 32
  private def zExpr(x: String, y: String): String =
    (0 until zBits).map { i =>
      val p2 = 1L << i; val p4 = 1L << (2 * i)
      s"((($x div $p2) % 2) * $p4 + (($y div $p2) % 2) * ${2 * p4})"
    }.mkString(" + ")
  private def zExprDuck(x: String, y: String): String =
    (0 until zBits).map { i =>
      val p2 = 1L << i; val p4 = 1L << (2 * i)
      s"((($x // $p2) % 2) * $p4 + (($y // $p2) % 2) * ${2 * p4})"
    }.mkString(" + ")
  private def w02(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val base = o.select(
      (col("o_custkey") % 1024).as("x"),
      expr("CAST(floor(o_totalprice / 500.0) AS BIGINT) % 1024").as("y"))
    base.withColumn("z", expr(zExpr("x", "y")))
      .withColumn("bucket", expr(s"z div ${(1L << (2 * zBits)) / zBuckets}"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy(col("bucket"))
  }
  private val w02Sql =
    s"""WITH base AS (
       | SELECT o_custkey % 1024 AS x,
       |  CAST(floor(o_totalprice / 500.0) AS BIGINT) % 1024 AS y
       | FROM orders),
       |zz AS (SELECT x, y, ${zExprDuck("x", "y")} AS z FROM base)
       |SELECT z // ${(1L << (2 * zBits)) / zBuckets} AS bucket,
       | COUNT(*) AS n_rows,
       | MIN(x) AS min_x, MAX(x) AS max_x,
       | MIN(y) AS min_y, MAX(y) AS max_y
       |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- k01/k02: Count-Min frequency sketch --------------------------------
  // The streaming-friendly heavy-hitter counter (Cormode/Muthukrishnan
  // 2005): d hash rows x w buckets of additive counts. Merge is
  // addition, so the sketch is exactly what Spark's map-side partial
  // aggregation produces — the shuffle carries at most d*w rows per
  // partition regardless of input size, and two sketches built on
  // different partitions combine without order sensitivity (integer
  // adds). k01 materializes the sketch table; k02 answers point
  // queries: est(key) = min over rows of the key's bucket count, an
  // upper bound on the true count (CMS never underestimates), checked
  // against the exact count.
  private val cmsDepth = 4; private val cmsWidth = 32
  private def cmsHash(k: Int, key: String): String = {
    val mixed = s"((($key) % $P) * 2654435761) % $P"
    s"((((${2 * k + 3} * $mixed + ${7919 * k + 1}) % $P) + $P) % $P) % $cmsWidth"
  }
  private def k01(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
    val rows = e.select(explode(array((0 until cmsDepth).map(k =>
      struct(lit(k).as("depth"),
        expr(cmsHash(k, "user_id")).as("bucket"))): _*)).as("h"))
    rows.groupBy(col("h.depth").as("depth"), col("h.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("depth"), col("bucket"))
  }
  private val k01Sql = {
    val sel = (0 until cmsDepth).map(k =>
      s"SELECT $k AS depth, ${cmsHash(k, "user_id")} AS bucket FROM events")
      .mkString(" UNION ALL ")
    s"""SELECT depth, bucket, COUNT(*) AS cnt
       |FROM ($sel) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private val cmsProbeKeys = 10
  private def k02(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
    // materialize the d*w-row sketch once: the four per-depth broadcast
    // probes below would otherwise each re-execute the full sketch
    // subtree (4 more scans of events)
    val sketch = k01(s, dir).localCheckpoint()
    val keys = e.filter(col("user_id") < cmsProbeKeys)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
    val probes = keys.select(Seq(col("user_id"), col("exact")) ++
      (0 until cmsDepth).map(k =>
        expr(cmsHash(k, "user_id")).as(s"b$k")): _*)
    val est = (0 until cmsDepth).map { k =>
      // one broadcast probe per depth row of the sketch
      (k, sketch.filter(col("depth") === k)
        .select(col("bucket").as(s"b$k"), col("cnt").as(s"c$k")))
    }.foldLeft(probes) { case (acc, (k, sk)) => acc.join(broadcast(sk), s"b$k") }
    est.select(col("user_id"), col("exact"),
        expr((0 until cmsDepth).map(k => s"c$k").mkString("least(", ", ", ")")).as("est"))
      .withColumn("overcount", col("est") - col("exact"))
      .orderBy(col("user_id"))
  }
  private val k02Sql = {
    val sel = (0 until cmsDepth).map(k =>
      s"SELECT $k AS depth, ${cmsHash(k, "user_id")} AS bucket FROM events")
      .mkString(" UNION ALL ")
    val joins = (0 until cmsDepth).map(k =>
      s"JOIN sketch s$k ON s$k.depth = $k AND s$k.bucket = ${cmsHash(k, "p.user_id")}")
      .mkString(" ")
    val estExpr = (0 until cmsDepth).map(k => s"s$k.cnt").mkString("least(", ", ", ")")
    s"""WITH sketch AS (
       | SELECT depth, bucket, COUNT(*) AS cnt FROM ($sel) GROUP BY 1, 2),
       |p AS (SELECT user_id, COUNT(*) AS exact FROM events
       |      WHERE user_id < $cmsProbeKeys GROUP BY 1)
       |SELECT p.user_id, p.exact, $estExpr AS est,
       | $estExpr - p.exact AS overcount
       |FROM p $joins
       |ORDER BY p.user_id""".stripMargin
  }

  // ---- w03: positional phrase search --------------------------------------
  // Exact-phrase matching over a positional inverted index: token
  // occurrences (doc, pos, term) are the index rows; a 2-term phrase is
  // an equi-join of the two terms' posting streams on
  // (doc_id, pos_b = pos_a + 1). The term filter lands BEFORE the
  // shuffle, so only the query terms' postings move — at 100 TB the
  // full index build is the same explode + groupBy((term, doc)) shape,
  // and query-time cost is proportional to the two posting lists, not
  // the corpus. No arrays are carried through the join: the adjacency
  // test IS the join key.
  private val phrase = ("hash", "join")
  private def w03(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    // ONE tokenize pass: filter to the two query terms during the
    // explode and materialize the (tiny) posting stream — both join
    // sides read it, instead of each branch re-exploding the corpus
    val toks = d.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos0", "term")))
      .filter(col("term").isin(phrase._1, phrase._2))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("term"))
      .localCheckpoint()
    val a = toks.filter(col("term") === phrase._1)
      .select(col("doc_id"), col("pos"))
    val b = toks.filter(col("term") === phrase._2)
      .select(col("doc_id").as("b_doc"), col("pos").as("b_pos"))
    a.join(b, col("doc_id") === col("b_doc") && col("b_pos") === col("pos") + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("doc_id"))
  }
  private val w03Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |pos AS (SELECT doc_id, unnest(ts) AS term,
       |        unnest(generate_series(1, len(ts))) AS pos FROM toks),
       |a AS (SELECT doc_id, pos FROM pos WHERE term = '${phrase._1}'),
       |b AS (SELECT doc_id, pos FROM pos WHERE term = '${phrase._2}')
       |SELECT a.doc_id, COUNT(*) AS n_occurrences
       |FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- k03: Bloom filter build + membership probe --------------------------
  // The set-membership sketch behind semi-join pruning and dedup
  // pre-filters: k hash functions set bits in an m-bit array. The build
  // is a DISTINCT over set bit positions — an OR-merge, order-independent
  // by construction, so map-side partial aggregation produces the exact
  // filter and the shuffle is ≤ m rows total. The probe set is the
  // documents' source strings tested against a filter built from
  // orders' clerk ids (modeled as overlapping key domains): a key is
  // "maybe present" iff ALL k bit probes hit — one broadcast hash probe
  // per (key, hash), never a join against the keyed data. False
  // positives are possible BY DESIGN and deterministic given the hash
  // family; the oracle computes the same bits, so the contract is the
  // sketch semantics, not a lie about exactness.
  // m = 2^17 bits for ~13k member keys at sf0.1 -> FP ~ 1.7% with k = 3
  // (a 256-bit toy filter saturates and answers "maybe" for everything)
  private val bloomBits = 131072; private val bloomK = 3
  private def bloomHash(k: Int, key: String): String = {
    val mixed = s"((($key) % $P) * 2654435761) % $P"
    s"((((${2 * k + 3} * $mixed + ${7919 * k + 1}) % $P) + $P) % $P) % $bloomBits"
  }
  private def k03(s: SparkSession, dir: String): DataFrame = {
    val o = rd(s, dir, "orders")
    val d = rd(s, dir, "documents")
    // member domain: custkeys with an urgent order; probe domain: doc ids
    val bits = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(explode(array((0 until bloomK).map(k =>
        expr(bloomHash(k, "o_custkey"))): _*)).as("bit"))
      .distinct()
      .localCheckpoint() // ≤ m rows; feeds k probe joins below
    val probes = d.select(col("doc_id"))
    val joined = (0 until bloomK).foldLeft(
      probes.withColumn("n_hits", lit(0))) { (acc, k) =>
      acc.join(broadcast(bits.select(col("bit").as(s"bit$k"))),
          expr(bloomHash(k, "doc_id")) === col(s"bit$k"), "left")
        .withColumn("n_hits",
          col("n_hits") + when(col(s"bit$k").isNotNull, 1).otherwise(0))
        .drop(s"bit$k")
    }
    val exact = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("doc_id")).distinct()
      .withColumn("present", lit(true))
    joined.join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_hits") === bloomK).as("maybe_present"),
        coalesce(col("present"), lit(false)).as("actually_present"))
      .orderBy(col("doc_id"))
  }
  private val k03Sql = {
    val probeHits = (0 until bloomK).map(k =>
      s"CASE WHEN ${bloomHash(k, "d.doc_id")} IN (SELECT bit FROM bits) THEN 1 ELSE 0 END")
      .mkString(" + ")
    val bitSel = (0 until bloomK).map(k =>
      s"SELECT ${bloomHash(k, "o_custkey")} AS bit FROM orders WHERE o_orderpriority = '1-URGENT'")
      .mkString(" UNION ")
    s"""WITH bits AS ($bitSel)
       |SELECT d.doc_id,
       | ($probeHits) = $bloomK AS maybe_present,
       | d.doc_id IN (SELECT o_custkey FROM orders
       |              WHERE o_orderpriority = '1-URGENT') AS actually_present
       |FROM documents d
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- shared cosine retriever (w04 / w05) --------------------------------
  // Embedding-cosine ranked list for a query vector taken from the
  // embeddings table itself (vec_id = qId), excluding the query row.
  // Uses the native codegen'd array_dot (same kernel as v01); the
  // 1-row query side is broadcast, so the retrieval is one scan of the
  // candidate table — the brute-force baseline shape. Float32 cast
  // absorbs ulp; c_id breaks score ties (repo convention).
  private def dotDuck(x: String, y: String) =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($x)), " +
      s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (acc, v) -> acc + v)"
  private def cosRanked(s: SparkSession, dir: String, qId: Int, topK: Int): DataFrame = {
    val e = rd(s, dir, "embeddings")
      .withColumn("norm", sqrt(expr("array_dot(embedding, embedding)")))
    val q = e.filter(col("vec_id") === qId)
      .select(col("embedding").as("q_emb"), col("norm").as("q_norm"),
        col("label").as("q_label"))
    val cos = (expr("array_dot(q_emb, embedding)") / (col("q_norm") * col("norm")))
      .cast("float")
    // distributed top-k (TakeOrderedAndProject), then rank over <= topK
    // rows — the corpus-wide table never funnels through one partition
    val w = Window.orderBy(col("cos").desc, col("vec_id").asc)
    e.filter(col("vec_id") =!= qId).crossJoin(broadcast(q))
      .withColumn("cos", cos)
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(topK)
      .withColumn("crank", row_number().over(w))
      .select(col("crank"), col("vec_id"), col("cos"), col("label"),
        col("q_label"))
  }
  private def cosRankedSql(qId: Int, topK: Int): String = {
    val cos = s"CAST(${dotDuck("q.embedding", "c.embedding")} / " +
      s"(SQRT(${dotDuck("q.embedding", "q.embedding")}) * " +
      s"SQRT(${dotDuck("c.embedding", "c.embedding")})) AS REAL)"
    s"""cosranked AS (
       | SELECT crank, vec_id, cos, label, q_label FROM (
       |  SELECT c.vec_id, $cos AS cos, c.label, q.label AS q_label,
       |   ROW_NUMBER() OVER (ORDER BY $cos DESC, c.vec_id ASC) AS crank
       |  FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id = $qId) q
       |  WHERE c.vec_id != $qId)
       | WHERE crank <= $topK)""".stripMargin
  }

  // ---- w04: hybrid retrieval — reciprocal-rank fusion ---------------------
  // The standard two-retriever fusion (Cormack et al. RRF, k = 60):
  // the lexical BM25 top-50 and the dense cosine top-50 are FULL OUTER
  // joined on doc id (documents.doc_id ≡ embeddings.vec_id in this
  // corpus) and each doc scores sum(1 / (60 + rank_i)) over the lists
  // that retrieved it. Both inputs are rank INTEGERS, so the two-term
  // double sum is exact IEEE arithmetic with a fixed left-to-right
  // order — deterministic across engines without quantization.
  //
  // Scale: each retriever's top-K is tiny; the fusion join is
  // broadcast-sized by construction (K rows per list, never corpus-
  // sized). The expensive parts — BM25 stats, ANN scan — keep their
  // own family's scale shapes (w01, v01-v07).
  private val rrfK = 60
  private val rrfTopN = 20
  private def w04(s: SparkSession, dir: String): DataFrame = {
    val bm = bm25Ranked(s, dir).select(col("doc_id"), col("rank").as("bm_rank"))
    val cs = cosRanked(s, dir, qId = 0, topK = bmTopK)
      .select(col("vec_id").as("doc_id"), col("crank").as("cos_rank"))
    val fused = bm.join(cs, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        expr(s"coalesce(1.0D / ($rrfK + bm_rank), 0.0D) + " +
          s"coalesce(1.0D / ($rrfK + cos_rank), 0.0D)"))
    val w = Window.orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= rrfTopN)
      .select(col("rank"), col("doc_id"),
        coalesce(col("bm_rank"), lit(-1)).as("bm_rank"),
        coalesce(col("cos_rank"), lit(-1)).as("cos_rank"), col("rrf"))
      .orderBy(col("rank"))
  }
  private val w04Sql =
    s"""WITH $bm25RankedCtes,
       |${cosRankedSql(0, bmTopK)},
       |fused AS (
       | SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id, b.rank AS bm_rank,
       |  c.crank AS cos_rank,
       |  COALESCE(CAST(1 AS DOUBLE) / ($rrfK + b.rank), CAST(0 AS DOUBLE)) +
       |   COALESCE(CAST(1 AS DOUBLE) / ($rrfK + c.crank), CAST(0 AS DOUBLE)) AS rrf
       | FROM bmranked b FULL OUTER JOIN cosranked c ON b.doc_id = c.vec_id)
       |SELECT rank, doc_id, COALESCE(bm_rank, -1) AS bm_rank,
       | COALESCE(cos_rank, -1) AS cos_rank, rrf
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank
       |      FROM fused)
       |WHERE rank <= $rrfTopN ORDER BY rank""".stripMargin

  // ---- w05: retrieval quality — NDCG@10 -----------------------------------
  // The eval harness that justifies a retriever before an index build
  // (companion to v08's recall@k): binary relevance = label match
  // between query and candidate, DCG discounts by 1/log2(rank + 1),
  // ideal DCG ranks all n_rel relevant docs first. Per-term discounts
  // are micro-quantized to longs BEFORE summing (the repo's order-free
  // fold discipline), so the 10-term sum cannot drift across engines.
  // One output row per query id.
  private val ndcgK = 10
  private val ndcgQueries = Seq(0, 1, 2)
  private def w05one(s: SparkSession, dir: String, qId: Int): DataFrame = {
    val e = rd(s, dir, "embeddings")
    val ranked = cosRanked(s, dir, qId, ndcgK)
      .withColumn("rel", when(col("label") === col("q_label"), 1L).otherwise(0L))
      .withColumn("dterm",
        expr("CAST(floor(rel * 1e6 / log2(crank + 1) + 0.5) AS BIGINT)"))
    val nRel = e.filter(col("vec_id") =!= qId)
      .join(broadcast(e.filter(col("vec_id") === qId)
        .select(col("label").as("q_label"))))
      .filter(col("label") === col("q_label"))
      .agg(count(lit(1)).as("n_rel"))
    ranked.agg(sum(col("dterm")).as("dcg_micro")).crossJoin(broadcast(nRel))
      .withColumn("idcg_micro", expr(
        s"aggregate(sequence(1, CAST(least($ndcgK, n_rel) AS INT)), 0L, " +
          "(acc, i) -> acc + CAST(floor(1e6 / log2(i + 1) + 0.5) AS BIGINT))"))
      .select(lit(qId.toLong).as("q_id"), col("n_rel"), col("dcg_micro"),
        col("idcg_micro"),
        (col("dcg_micro").cast("double") / col("idcg_micro")).cast("float")
          .as("ndcg"))
  }
  private def w05(s: SparkSession, dir: String): DataFrame =
    ndcgQueries.map(w05one(s, dir, _)).reduce(_.unionAll(_))
      .orderBy(col("q_id"))
  private val w05Sql = {
    val one = (qId: Int) =>
      s"""SELECT $qId AS q_id,
         | (SELECT COUNT(*) FROM embeddings c, embeddings q
         |  WHERE q.vec_id = $qId AND c.vec_id != $qId AND c.label = q.label) AS n_rel,
         | (SELECT CAST(SUM(CAST(FLOOR((CASE WHEN label = q_label THEN 1 ELSE 0 END)
         |     * 1e6 / log2(crank + 1) + 0.5) AS BIGINT)) AS BIGINT)
         |  FROM q$qId) AS dcg_micro
         |FROM (SELECT 1)"""
    val body = ndcgQueries.map { qId =>
      s"""q$qId AS (${cosRankedSql(qId, ndcgK).replace("cosranked AS (", "").dropRight(1)})"""
    }.mkString(",\n")
    val rows = ndcgQueries.map(one).mkString("\nUNION ALL\n")
    s"""WITH $body,
       |raw AS ($rows)
       |SELECT q_id, n_rel, dcg_micro,
       | CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |   list_transform(generate_series(1, LEAST($ndcgK, n_rel)),
       |     i -> CAST(FLOOR(1e6 / log2(i + 1) + 0.5) AS BIGINT))),
       |   (acc, v) -> acc + v) AS BIGINT) AS idcg_micro,
       | CAST(CAST(dcg_micro AS DOUBLE) /
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |   list_transform(generate_series(1, LEAST($ndcgK, n_rel)),
       |     i -> CAST(FLOOR(1e6 / log2(i + 1) + 0.5) AS BIGINT))),
       |   (acc, v) -> acc + v) AS BIGINT) AS REAL) AS ndcg
       |FROM raw ORDER BY q_id""".stripMargin
  }

  // ---- w06: PMI term co-occurrence -----------------------------------------
  // Pointwise mutual information over term pairs co-occurring in a
  // document — the collocation/query-expansion statistic. The corpus
  // collapses to its distinct (doc, term) presence table first; the
  // pair join is per-doc over DISTINCT terms, so its width is bounded
  // by vocabulary (not document length), and the aggregate output is
  // ≤ |vocab|² rows however large the corpus. PMI = ln(c_ab·N /
  // (c_a·c_b)) from integer counts, float32 at the end; min-support
  // filter keeps the long tail out.
  private val pmiMinSupport = 5
  private val pmiTopK = 30
  private def w06(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val pres = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
      .localCheckpoint() // feeds unigram counts AND both pair-join sides
    val n = d.agg(count(lit(1)).as("n_docs"))
    val uni = pres.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val pairs = pres.as("a")
      .join(pres.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("t1"), col("b.term").as("t2"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= pmiMinSupport)
    val scored = pairs
      .join(broadcast(uni.select(col("term").as("t1"), col("c").as("c_a"))), "t1")
      .join(broadcast(uni.select(col("term").as("t2"), col("c").as("c_b"))), "t2")
      .crossJoin(broadcast(n))
      .withColumn("pmi", expr(
        "CAST(ln(CAST(c_ab AS DOUBLE) * n_docs / (CAST(c_a AS DOUBLE) * c_b)) AS FLOAT)"))
    // vocab²-bounded but still potentially large: take the top-30 with
    // a distributed TakeOrderedAndProject, then rank the 30 survivors
    val w = Window.orderBy(col("pmi").desc, col("t1").asc, col("t2").asc)
    scored
      .orderBy(col("pmi").desc, col("t1").asc, col("t2").asc)
      .limit(pmiTopK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("t1"), col("t2"), col("c_ab"), col("c_a"),
        col("c_b"), col("pmi"))
      .orderBy(col("rank"))
  }
  private val w06Sql =
    s"""WITH pres AS (
       | SELECT DISTINCT doc_id, term FROM (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents)
       | WHERE LENGTH(term) > 0),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |uni AS (SELECT term, COUNT(*) AS c FROM pres GROUP BY 1),
       |pairs AS (
       | SELECT a.term AS t1, b.term AS t2, COUNT(*) AS c_ab
       | FROM pres a JOIN pres b ON a.doc_id = b.doc_id AND a.term < b.term
       | GROUP BY 1, 2 HAVING COUNT(*) >= $pmiMinSupport),
       |scored AS (
       | SELECT t1, t2, c_ab, ua.c AS c_a, ub.c AS c_b,
       |  CAST(ln(CAST(c_ab AS DOUBLE) * n_docs / (CAST(ua.c AS DOUBLE) * ub.c)) AS REAL) AS pmi
       | FROM pairs JOIN uni ua ON ua.term = t1 JOIN uni ub ON ub.term = t2
       | CROSS JOIN n)
       |SELECT rank, t1, t2, c_ab, c_a, c_b, pmi
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, t1 ASC, t2 ASC) AS rank
       |      FROM scored)
       |WHERE rank <= $pmiTopK ORDER BY rank""".stripMargin

  // ---- w07: snippet extraction (densest query-term window) -----------------
  // The search-result highlighter: for each document matching any query
  // term, find the 10-token window (anchored at a matching occurrence)
  // covering the most query-term occurrences. Occurrence positions come
  // from one tokenize-explode (the w03 posting shape); density is a
  // positions-to-positions self-join BOUNDED by (doc, window span) —
  // O(occurrences × window density), never doc-length-quadratic.
  // Tie-break: earliest window start. Scale: postings shuffle keyed by
  // doc, the same inverted layout every stage here shares.
  private val snipTerms = Seq("join", "hash", "scan")
  private val snipWin = 10
  private def w07(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val occ = d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(col("tok").isin(snipTerms: _*))
      .select(col("doc_id"), col("pos"))
      .localCheckpoint() // both sides of the density join
    val dens = occ.as("a")
      .join(occ.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.pos") >= col("a.pos") &&
          col("b.pos") < col("a.pos") + snipWin)
      .groupBy(col("a.doc_id").as("doc_id"), col("a.pos").as("win_start"))
      .agg(count(lit(1)).as("n_hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_hits").desc, col("win_start").asc)
    dens.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("win_start"), col("n_hits"))
      .orderBy(col("doc_id"))
  }
  private val w07Sql = {
    val inList = snipTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH occ AS (
       | SELECT doc_id, pos FROM (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok,
       |   UNNEST(generate_series(0, len(string_split(text, ' ')) - 1)) AS pos
       |  FROM documents)
       | WHERE tok IN ($inList)),
       |dens AS (
       | SELECT a.doc_id, a.pos AS win_start, COUNT(*) AS n_hits
       | FROM occ a JOIN occ b
       |   ON a.doc_id = b.doc_id AND b.pos >= a.pos AND b.pos < a.pos + $snipWin
       | GROUP BY 1, 2)
       |SELECT doc_id, win_start, n_hits FROM (
       | SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |   ORDER BY n_hits DESC, win_start ASC) AS rn
       | FROM dens)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  // ---- k07: mergeable log-bucket quantile sketch ---------------------------
  // DDSketch-family relative-error quantiles via the native
  // qsketch_buckets aggregate (plans/LogQuantileSketch.scala): 512
  // integer-exact (msb, next-3-bits) buckets per group, merged
  // element-wise — map-side combine reduces every partition to one
  // bounded vector per group, the only single-pass quantile shape that
  // survives 100 TB (a18/a24's exact forms sort or window all rows).
  // The oracle rebuilds the identical buckets relationally (printf('%b')
  // msb + shifts) and both engines select p50/p90/p99 from the same
  // cumulative-count crossing in exact integer arithmetic; answers are
  // bucket LOWER BOUNDS, within gamma^2 ~ 18% of the true quantile by
  // construction (accuracy against exact quantiles is asserted in
  // LogQuantileSketchSpec).
  private def k07(s: SparkSession, dir: String): DataFrame = {
    rd(s, dir, "lineitem").createOrReplaceTempView("k07_li")
    s.sql(
      """WITH sk AS (
        | SELECT l_returnflag AS flag,
        |  qsketch_buckets(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS m
        | FROM k07_li GROUP BY 1),
        |ex AS (
        | SELECT flag, idx, cnt FROM sk LATERAL VIEW explode(m) t AS idx, cnt),
        |cum AS (
        | SELECT flag, idx, cnt,
        |  SUM(cnt) OVER (PARTITION BY flag ORDER BY idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |  SUM(cnt) OVER (PARTITION BY flag) AS tot,
        |  CASE WHEN idx < 24 THEN CAST(idx % 8 AS BIGINT)
        |   ELSE SHIFTLEFT(CAST(8 + idx % 8 AS BIGINT), CAST(idx / 8 AS INT) - 3)
        |  END AS lb
        | FROM ex)
        |SELECT flag, COUNT(*) AS n_buckets, MAX(tot) AS total,
        | MIN(CASE WHEN 2 * c >= tot THEN lb END) AS p50,
        | MIN(CASE WHEN 10 * c >= 9 * tot THEN lb END) AS p90,
        | MIN(CASE WHEN 100 * c >= 99 * tot THEN lb END) AS p99
        |FROM cum GROUP BY flag ORDER BY flag""".stripMargin)
  }
  private val k07Sql =
    """WITH v AS (
      | SELECT l_returnflag AS flag, CAST(FLOOR(l_extendedprice) AS BIGINT) AS x
      | FROM lineitem
      | WHERE CAST(FLOOR(l_extendedprice) AS BIGINT) > 0),
      |b AS (
      | SELECT flag,
      |  (length(printf('%b', x)) - 1) * 8 +
      |   ((x >> greatest(length(printf('%b', x)) - 4, 0)) & 7) AS idx,
      |  COUNT(*) AS cnt
      | FROM v GROUP BY 1, 2),
      |cum AS (
      | SELECT flag, idx, cnt,
      |  SUM(cnt) OVER (PARTITION BY flag ORDER BY idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
      |  SUM(cnt) OVER (PARTITION BY flag) AS tot,
      |  CASE WHEN idx < 24 THEN CAST(idx % 8 AS BIGINT)
      |   ELSE CAST((8 + idx % 8) * power(2, idx // 8 - 3) AS BIGINT)
      |  END AS lb
      | FROM b)
      |SELECT flag, COUNT(*) AS n_buckets, CAST(MAX(tot) AS BIGINT) AS total,
      | MIN(CASE WHEN 2 * c >= tot THEN lb END) AS p50,
      | MIN(CASE WHEN 10 * c >= 9 * tot THEN lb END) AS p90,
      | MIN(CASE WHEN 100 * c >= 99 * tot THEN lb END) AS p99
      |FROM cum GROUP BY flag ORDER BY flag""".stripMargin

  // ---- k10: sketch-accuracy audit (DDSketch vs exact) ----------------------
  // The v08/d25 evaluation discipline applied to k07: every sketch in
  // production needs its error CONTRACT measured, not assumed. Per
  // group and per quantile (p50/p90/p99), compare the k07 bucket
  // lower bound against the EXACT quantile at the same rank-crossing
  // definition (smallest value whose cumulative count crosses p*n —
  // computed from the value-count table, bounded by the price DOMAIN,
  // not the corpus). The (msb, 3-bit-mantissa) bucket [m*2^e,
  // (m+1)*2^e) pins the guarantee: lb <= exact and under-estimation
  // < 1/(m+1) <= 1/9 for the mantissa range — rel_err_bp must land in
  // [0, 1112]. Integer arithmetic end-to-end (error in basis points
  // from exact longs).
  private def k10(s: SparkSession, dir: String): DataFrame = {
    rd(s, dir, "lineitem").createOrReplaceTempView("k10_li")
    s.sql(
      """WITH sk AS (
        | SELECT l_returnflag AS flag,
        |  qsketch_buckets(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS m
        | FROM k10_li GROUP BY 1),
        |ex AS (
        | SELECT flag, idx, cnt FROM sk LATERAL VIEW explode(m) t AS idx, cnt),
        |cum AS (
        | SELECT flag, idx, cnt,
        |  SUM(cnt) OVER (PARTITION BY flag ORDER BY idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |  SUM(cnt) OVER (PARTITION BY flag) AS tot,
        |  CASE WHEN idx < 24 THEN CAST(idx % 8 AS BIGINT)
        |   ELSE SHIFTLEFT(CAST(8 + idx % 8 AS BIGINT), CAST(idx / 8 AS INT) - 3)
        |  END AS lb
        | FROM ex),
        |sq AS (
        | SELECT flag,
        |  MIN(CASE WHEN 2 * c >= tot THEN lb END) AS s50,
        |  MIN(CASE WHEN 10 * c >= 9 * tot THEN lb END) AS s90,
        |  MIN(CASE WHEN 100 * c >= 99 * tot THEN lb END) AS s99
        | FROM cum GROUP BY flag),
        |vc AS (
        | SELECT l_returnflag AS flag,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS x, COUNT(*) AS cnt
        | FROM k10_li WHERE CAST(FLOOR(l_extendedprice) AS BIGINT) > 0
        | GROUP BY 1, 2),
        |vcum AS (
        | SELECT flag, x,
        |  SUM(cnt) OVER (PARTITION BY flag ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |  SUM(cnt) OVER (PARTITION BY flag) AS tot
        | FROM vc),
        |eq AS (
        | SELECT flag,
        |  MIN(CASE WHEN 2 * c >= tot THEN x END) AS e50,
        |  MIN(CASE WHEN 10 * c >= 9 * tot THEN x END) AS e90,
        |  MIN(CASE WHEN 100 * c >= 99 * tot THEN x END) AS e99
        | FROM vcum GROUP BY flag),
        |joined AS (
        | SELECT sq.flag,
        |  stack(3, 'p50', s50, e50, 'p90', s90, e90, 'p99', s99, e99)
        |   AS (q_label, sketch_lb, exact_q)
        | FROM sq JOIN eq ON sq.flag = eq.flag)
        |SELECT flag, q_label, sketch_lb, exact_q,
        | CAST((exact_q - sketch_lb) * 10000 DIV exact_q AS BIGINT)
        |  AS rel_err_bp,
        | CAST(CASE WHEN sketch_lb <= exact_q
        |       AND (exact_q - sketch_lb) * 10000 DIV exact_q <= 1112
        |      THEN 1 ELSE 0 END AS INT) AS within_bound
        |FROM joined ORDER BY flag, q_label""".stripMargin)
  }
  private val k10Sql =
    """WITH v AS (
      | SELECT l_returnflag AS flag, CAST(FLOOR(l_extendedprice) AS BIGINT) AS x
      | FROM lineitem
      | WHERE CAST(FLOOR(l_extendedprice) AS BIGINT) > 0),
      |b AS (
      | SELECT flag,
      |  (length(printf('%b', x)) - 1) * 8 +
      |   ((x >> greatest(length(printf('%b', x)) - 4, 0)) & 7) AS idx,
      |  COUNT(*) AS cnt
      | FROM v GROUP BY 1, 2),
      |cum AS (
      | SELECT flag, idx, cnt,
      |  SUM(cnt) OVER (PARTITION BY flag ORDER BY idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
      |  SUM(cnt) OVER (PARTITION BY flag) AS tot,
      |  CASE WHEN idx < 24 THEN CAST(idx % 8 AS BIGINT)
      |   ELSE CAST((8 + idx % 8) * power(2, idx // 8 - 3) AS BIGINT)
      |  END AS lb
      | FROM b),
      |sq AS (
      | SELECT flag,
      |  MIN(CASE WHEN 2 * c >= tot THEN lb END) AS s50,
      |  MIN(CASE WHEN 10 * c >= 9 * tot THEN lb END) AS s90,
      |  MIN(CASE WHEN 100 * c >= 99 * tot THEN lb END) AS s99
      | FROM cum GROUP BY flag),
      |vc AS (SELECT flag, x, COUNT(*) AS cnt FROM v GROUP BY 1, 2),
      |vcum AS (
      | SELECT flag, x,
      |  SUM(cnt) OVER (PARTITION BY flag ORDER BY x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
      |  SUM(cnt) OVER (PARTITION BY flag) AS tot
      | FROM vc),
      |eq AS (
      | SELECT flag,
      |  MIN(CASE WHEN 2 * c >= tot THEN x END) AS e50,
      |  MIN(CASE WHEN 10 * c >= 9 * tot THEN x END) AS e90,
      |  MIN(CASE WHEN 100 * c >= 99 * tot THEN x END) AS e99
      | FROM vcum GROUP BY flag),
      |joined AS (
      | SELECT flag, q_label, sketch_lb, exact_q FROM (
      |  SELECT sq.flag, 'p50' AS q_label, s50 AS sketch_lb, e50 AS exact_q
      |  FROM sq JOIN eq USING (flag)
      |  UNION ALL
      |  SELECT sq.flag, 'p90', s90, e90 FROM sq JOIN eq USING (flag)
      |  UNION ALL
      |  SELECT sq.flag, 'p99', s99, e99 FROM sq JOIN eq USING (flag)))
      |SELECT flag, q_label, sketch_lb, exact_q,
      | CAST((exact_q - sketch_lb) * 10000 // exact_q AS BIGINT) AS rel_err_bp,
      | CAST(CASE WHEN sketch_lb <= exact_q
      |       AND (exact_q - sketch_lb) * 10000 // exact_q <= 1112
      |      THEN 1 ELSE 0 END AS INTEGER) AS within_bound
      |FROM joined ORDER BY flag, q_label""".stripMargin

  // ---- w09: Rocchio pseudo-relevance feedback ------------------------------
  // Query expansion (Rocchio 1971, the classic PRF loop): rank with BM25,
  // take the top-Dr docs as pseudo-relevant, add the E strongest centroid
  // terms to the query (β/|Dr| scaled), rescore by the expanded weighted
  // dot product. Pipeline shape: the (doc, term, tf) inverted table is
  // built ONCE (explode + groupBy — the only corpus-sized stages) and
  // feeds df-stats, the centroid, and the rescore; the pseudo-relevant id
  // set, the expansion terms, and the query-weight table are all tiny
  // broadcasts; both top-k cuts are orderBy+limit (TakeOrderedAndProject,
  // per-partition heaps). Determinism: idf is micro-quantized
  // (⌊ln·10⁶⌋) so every downstream weight — tf·idfm, the centroid sum,
  // the β-scaled integer-div expansion weights, the final scores — is
  // EXACT integer arithmetic, order-free on both engines; magnitudes
  // bounded by 10⁶·10⁷·terms ≪ 2⁶³.
  private val prfDr = 10
  private val prfE = 3
  private val prfAlpha = 1000000L
  private val prfTopK = 10
  private def w09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = rd(s, dir, "documents")
    val toks = d.select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> length(w) > 0)")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds df stats, centroid, and rescoring
    val dfT = toks.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n1 = d.agg(count(lit(1)).as("n_docs"))
    val idfT = dfT.crossJoin(broadcast(n1)).select(col("term"),
      expr("CAST(FLOOR(LN(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * 1000000.0) AS BIGINT)")
        .as("idfm"))
    val wdt = toks.join(idfT, "term")
      .select(col("doc_id"), col("term"), (col("tf") * col("idfm")).as("wdt"))
      .localCheckpoint() // centroid + rescore both read this
    val drIds = bm25Ranked(s, dir).filter(col("rank") <= prfDr).select(col("doc_id"))
    val cent = wdt.join(broadcast(drIds), "doc_id")
      .filter(!col("term").isin(bmTerms: _*))
      .groupBy(col("term")).agg(sum(col("wdt")).as("cent"))
    val expn = cent.orderBy(col("cent").desc, col("term").asc).limit(prfE)
      .select(col("term"), expr(s"(75 * cent) DIV ${10 * prfDr * 100}").as("qw"))
    val orig = bmTerms.toDF("term").select(col("term"), lit(prfAlpha).as("qw"))
    val qw = orig.union(expn)
    val scores = wdt.join(broadcast(qw), "term")
      .groupBy(col("doc_id")).agg(sum(col("wdt") * col("qw")).as("score"))
    val top = scores.orderBy(col("score").desc, col("doc_id").asc).limit(prfTopK)
    val win = Window.orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(win))
      .select(col("rank"), col("doc_id"), col("score"))
      .orderBy(col("rank"))
  }
  private val w09Sql = {
    val origRows = bmTerms.map(t => s"('$t')").mkString(", ")
    s"""WITH toks AS (
       | SELECT doc_id, tok AS term, COUNT(*) AS tf
       | FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |        w -> length(w) > 0)) AS tok FROM documents)
       | GROUP BY 1, 2),
       |dfs AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY 1),
       |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
       |idft AS (
       | SELECT term,
       |  CAST(FLOOR(LN(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * 1000000.0) AS BIGINT) AS idfm
       | FROM dfs CROSS JOIN nd),
       |wdt AS MATERIALIZED (
       | SELECT doc_id, t.term, tf * idfm AS wdt
       | FROM toks t JOIN idft USING (term)),
       |$bm25RankedCtes,
       |dr AS (SELECT doc_id FROM bmranked WHERE rank <= $prfDr),
       |cent AS (
       | SELECT term, SUM(w.wdt) AS cent
       | FROM wdt w JOIN dr USING (doc_id)
       | WHERE term NOT IN (${bmTerms.map(t => s"'$t'").mkString(", ")})
       | GROUP BY 1),
       |expn AS (
       | SELECT term, (75 * cent) // ${10 * prfDr * 100} AS qw
       | FROM cent ORDER BY cent DESC, term ASC LIMIT $prfE),
       |qws AS (
       | SELECT term, CAST($prfAlpha AS BIGINT) AS qw
       | FROM (VALUES $origRows) v(term)
       | UNION ALL SELECT term, qw FROM expn),
       |scores AS (
       | SELECT doc_id, CAST(SUM(w.wdt * q.qw) AS BIGINT) AS score
       | FROM wdt w JOIN qws q USING (term) GROUP BY 1)
       |SELECT rank, doc_id, score
       |FROM (SELECT doc_id, score,
       |       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM scores)
       |WHERE rank <= $prfTopK ORDER BY rank""".stripMargin
  }

  // ---- w11: MMR diversified re-ranking -------------------------------------
  // Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998): from
  // the BM25 top-N, greedily pick k docs maximizing
  //   λ·rel(d) − (1−λ)·max_{p∈picked} sim(d, p)
  // — the standard de-duplicating reranker between retrieval and an
  // LLM's context window. Scale split: retrieval and the candidate
  // pairwise similarities are distributed (top-N via per-partition
  // heaps; N² = 400 sim pairs via the native sorted-merge intersect);
  // the greedy loop runs on the COLLECTED ≤N-row candidate table — the
  // d12/a14 size-gated driver-finish convention, since MMR's argmax is
  // sequentially dependent by definition. Everything is integer basis
  // points (λ = 0.7 ⇒ score = 7·rel_bp − 3·max_sim_bp), so the oracle's
  // k chained argmax CTEs replay the identical picks with no float
  // comparisons anywhere; ties break on doc_id.
  private val mmrN = 20
  private val mmrK = 5
  private def w11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cands = bm25Ranked(s, dir).filter(col("rank") <= mmrN)
      .select(col("doc_id"),
        expr("CAST(floor(score * 10000 + 0.5) AS BIGINT)").as("rel_bp"))
      .join(rd(s, dir, "documents").select(col("doc_id"),
        expr("shingle_set(text, 5)").as("sh")), "doc_id")
      .localCheckpoint() // feeds both sim-join sides + the greedy table
    val a = cands.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = cands.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val inter = expr("sorted_intersect_count(a_sh, b_sh)").cast("double")
    val uni = (size(col("a_sh")) + size(col("b_sh"))).cast("double") - inter
    val sims = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        floor(lit(10000.0) * inter / uni + 0.5).cast("long").as("sim_bp"))
      .collect().flatMap(r => Seq(
        (r.getLong(0), r.getLong(1)) -> r.getLong(2),
        (r.getLong(1), r.getLong(0)) -> r.getLong(2))).toMap
    val rels = cands.select(col("doc_id"), col("rel_bp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    // greedy loop over the <=N-row driver table
    var picked = Vector.empty[(Int, Long, Long, Long)] // (pick, doc, rel, mmr)
    var remaining = rels
    for (k <- 1 to math.min(mmrK, rels.size)) {
      val best = remaining.map { case (d, rel) =>
        val maxSim = if (picked.isEmpty) 0L
          else picked.map(p => sims.getOrElse((d, p._2), 0L)).max
        (d, rel, 7L * rel - 3L * maxSim)
      }.maxBy { case (d, _, m) => (m, -d) } // mmr desc, doc_id asc
      picked :+= ((k, best._1, best._2, best._3))
      remaining = remaining.filterNot(_._1 == best._1)
    }
    picked.toDF("pick", "doc_id", "rel_bp", "mmr_bp").orderBy(col("pick"))
  }
  private val w11Sql = {
    val steps = (2 to mmrK).map { k =>
      s"""c$k AS MATERIALIZED (
         | SELECT c.doc_id, c.rel_bp,
         |  7 * c.rel_bp - 3 * COALESCE((
         |    SELECT MAX(s.sim_bp) FROM sims s
         |    JOIN sel${k - 1} p ON s.b_id = p.doc_id
         |    WHERE s.a_id = c.doc_id), 0) AS mmr_bp
         | FROM cands c
         | WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${k - 1})),
         |p$k AS MATERIALIZED (
         | SELECT $k AS pick, doc_id, rel_bp, mmr_bp
         | FROM c$k ORDER BY mmr_bp DESC, doc_id ASC LIMIT 1),
         |sel$k AS MATERIALIZED (
         | SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM p$k)"""
    }.mkString(",\n")
    s"""WITH $bm25RankedCtes,
       |cands AS MATERIALIZED (
       | SELECT b.doc_id,
       |  CAST(floor(b.score * 10000 + 0.5) AS BIGINT) AS rel_bp,
       |  $shinglesDuckW11 AS sh
       | FROM bmranked b JOIN documents d ON d.doc_id = b.doc_id
       | WHERE b.rank <= $mmrN),
       |sims AS MATERIALIZED (
       | SELECT a_id, b_id, sim_bp FROM (
       |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
       |   CAST(floor(10000.0 * CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |     / (CAST(len(x.sh) + len(y.sh) AS DOUBLE) - len(list_intersect(x.sh, y.sh))) + 0.5) AS BIGINT) AS sim_bp
       |  FROM cands x JOIN cands y ON x.doc_id <> y.doc_id)),
       |p1 AS MATERIALIZED (
       | SELECT 1 AS pick, doc_id, rel_bp, 7 * rel_bp AS mmr_bp
       | FROM cands ORDER BY 7 * rel_bp DESC, doc_id ASC LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT * FROM p1),
       |$steps
       |SELECT pick, doc_id, rel_bp, mmr_bp FROM sel$mmrK ORDER BY pick""".stripMargin
  }
  /** Char-5 shingle set over the joined document text — d02's spelling
    * with the `d.text` column reference. */
  private def shinglesDuckW11: String = {
    def h(expr: Int => String) =
      (0 until 5).map(k => s"${expr(k)} * ${math.pow(31, 4 - k).toLong}").mkString(" + ")
    val horner = h(k => s"ascii(substr(d.text, i + $k, 1))")
    s"list_sort(list_distinct(list_transform(generate_series(1, length(d.text) - 4), " +
      s"i -> CAST($horner AS INTEGER))))"
  }

  // ---- w12: posting-list delta + varint compression accounting -------------
  // The index-build engineering step every inverted index performs
  // (Manning/Raghavan/Schütze IR §5.3): store each term's posting list
  // as FIRST doc id + successive GAPS, varint-encoded — small gaps
  // (frequent terms) compress hardest. This query is the planning/
  // accounting pass: per term, document frequency, raw bytes (8 B/id),
  // variable-byte bytes of the gap-encoded list, and the compression
  // ratio, plus a corpus-total row (term='*'). Varint length is an
  // integer CASE ladder on the 7-bit thresholds — no log2 float ever.
  //
  // Scale design: tokenize once, distinct (term, doc) pairs, ONE
  // term-keyed window (lag) for the gaps — the inverted-index shuffle
  // every index build pays, keyed by term so posting lists co-locate
  // exactly as the real index layout wants them. The corpus total is a
  // second tiny aggregate over the ≤vocab-row per-term table, unioned
  // in (never a collect).
  private def w12(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val post = d.select(col("doc_id"),
      explode(expr("array_distinct(filter(split(text, ' '), " +
        "w -> length(w) > 0))")).as("term"))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    val vb = (g: String) =>
      s"CASE WHEN $g < 128 THEN 1L WHEN $g < 16384 THEN 2L " +
        s"WHEN $g < 2097152 THEN 3L WHEN $g < 268435456 THEN 4L " +
        s"ELSE 5L END"
    val perTerm = post
      .withColumn("gap",
        col("doc_id") - coalesce(lag(col("doc_id"), 1).over(wl), lit(0L)))
      .select(col("term"), expr(vb("gap")).as("vbytes"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        org.apache.spark.sql.functions.sum(col("vbytes")).as("vb_bytes"))
      .select(col("term"), col("df"), (col("df") * 8L).as("raw_bytes"),
        col("vb_bytes"))
      .localCheckpoint() // feeds the per-term rows AND the corpus total
    val total = perTerm.agg(
      org.apache.spark.sql.functions.sum(col("df")).as("df"),
      org.apache.spark.sql.functions.sum(col("raw_bytes")).as("raw_bytes"),
      org.apache.spark.sql.functions.sum(col("vb_bytes")).as("vb_bytes"))
      .select(lit("*").as("term"), col("df"), col("raw_bytes"), col("vb_bytes"))
    perTerm.union(total)
      .withColumn("ratio",
        (col("raw_bytes").cast("double") / col("vb_bytes")).cast("float"))
      .orderBy(col("term"))
  }
  private val w12Sql =
    """WITH post AS (
      | SELECT DISTINCT doc_id, term FROM (
      |  SELECT doc_id,
      |   unnest(list_filter(string_split(text, ' '), w -> length(w) > 0))
      |    AS term
      |  FROM documents)),
      |gaps AS (
      | SELECT term,
      |  doc_id - COALESCE(LAG(doc_id, 1) OVER (
      |    PARTITION BY term ORDER BY doc_id), 0) AS gap
      | FROM post),
      |per_term AS (
      | SELECT term, COUNT(*) AS df, COUNT(*) * 8 AS raw_bytes,
      |  CAST(SUM(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
      |   WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
      |   ELSE 5 END) AS BIGINT) AS vb_bytes
      | FROM gaps GROUP BY 1),
      |allrows AS (
      | SELECT term, df, raw_bytes, vb_bytes FROM per_term
      | UNION ALL
      | SELECT '*', CAST(SUM(df) AS BIGINT), CAST(SUM(raw_bytes) AS BIGINT),
      |  CAST(SUM(vb_bytes) AS BIGINT)
      | FROM per_term)
      |SELECT term, df, CAST(raw_bytes AS BIGINT) AS raw_bytes, vb_bytes,
      | CAST(CAST(raw_bytes AS DOUBLE) / vb_bytes AS REAL) AS ratio
      |FROM allrows ORDER BY term""".stripMargin

  // ---- w13: prefix autocomplete (top-k completions) ------------------------
  // The type-ahead index every search box needs (Bast & Weber 2006
  // CompleteSearch shape): for each query prefix, the top-k most
  // frequent vocabulary completions. Everything happens in VOCAB space:
  // the corpus collapses to (term, freq) once (map-side combined), the
  // prefix explode is vocab x <=4 prefixes (lengths 2..5, strictly
  // shorter than the term), and the top-3 cut is a window PARTITIONED
  // BY prefix over the prefix-bounded aggregate. A support floor keeps
  // the one-off-typo tail out of the index. Integer counts + strings
  // end-to-end — nothing to quantize.
  private val acMinSupport = 10L
  private val acTopK = 3
  private def w13(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val vocab = d.select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) >= 3)
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .localCheckpoint() // feeds the prefix explode once, vocab-sized
    val pref = vocab
      .select(col("term"), col("freq"),
        explode(expr(
          """transform(sequence(2, CAST(least(length(term) - 1, 5) AS INT)),
            | p -> substring(term, 1, p))""".stripMargin)).as("prefix"))
    val agg = pref.groupBy(col("prefix"), col("term"))
      .agg(org.apache.spark.sql.functions.sum(col("freq")).as("freq"))
    val sup = agg.groupBy(col("prefix"))
      .agg(org.apache.spark.sql.functions.sum(col("freq")).as("support"),
        count(lit(1)).as("n_cands"))
      .filter(col("support") >= acMinSupport)
    val w = Window.partitionBy(col("prefix"))
      .orderBy(col("freq").desc, col("term").asc)
    agg.join(sup, Seq("prefix"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= acTopK)
      .select(col("prefix"), col("rank"), col("term"), col("freq"),
        col("support"), col("n_cands"))
      .orderBy(col("prefix"), col("rank"))
  }
  private val w13Sql =
    s"""WITH vocab AS (
       | SELECT term, COUNT(*) AS freq FROM (
       |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
       | WHERE length(term) >= 3 GROUP BY 1),
       |pref AS (
       | SELECT v.term, v.freq, substr(v.term, 1, p) AS prefix
       | FROM vocab v,
       |  unnest(generate_series(2, least(length(v.term) - 1, 5))) AS t(p)),
       |agg AS (
       | SELECT prefix, term, CAST(SUM(freq) AS BIGINT) AS freq
       | FROM pref GROUP BY 1, 2),
       |sup AS (
       | SELECT prefix, CAST(SUM(freq) AS BIGINT) AS support,
       |  COUNT(*) AS n_cands
       | FROM agg GROUP BY 1 HAVING SUM(freq) >= $acMinSupport)
       |SELECT prefix, rank, term, freq, support, n_cands FROM (
       | SELECT a.prefix, a.term, a.freq, s.support, s.n_cands,
       |  ROW_NUMBER() OVER (PARTITION BY a.prefix
       |                     ORDER BY a.freq DESC, a.term ASC) AS rank
       | FROM agg a JOIN sup s USING (prefix))
       |WHERE rank <= $acTopK ORDER BY prefix, rank""".stripMargin

  // ---- k11: quantile-sketch merge closure ----------------------------------
  // k09's mergeability golden, for the quantile sketch: the property
  // that makes k07 a 100 TB operator is that per-shard sketches merge
  // ELEMENT-WISE into exactly the sketch of the union (daily sketch
  // files -> one corpus sketch with no re-scan). Proven in-engine:
  // build 7 independent shard sketches through the native aggregate,
  // sum their bucket vectors, and compare bucket-for-bucket (and at
  // the p50/p90 crossings) against the direct whole-corpus sketch —
  // n_mismatch must be 0. The merge is exact integer algebra, so this
  // is an identity, not an approximation.
  private def k11(s: SparkSession, dir: String): DataFrame = {
    rd(s, dir, "lineitem").createOrReplaceTempView("k11_li")
    s.sql(
      """WITH parts AS (
        | SELECT l_orderkey % 7 AS shard,
        |  qsketch_buckets(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS m
        | FROM k11_li GROUP BY 1),
        |pex AS (
        | SELECT idx, cnt FROM parts LATERAL VIEW explode(m) t AS idx, cnt),
        |merged AS (
        | SELECT idx, SUM(cnt) AS cnt FROM pex GROUP BY idx
        | HAVING SUM(cnt) > 0),
        |direct0 AS (
        | SELECT qsketch_buckets(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS m
        | FROM k11_li),
        |dex AS (
        | SELECT idx, cnt FROM direct0 LATERAL VIEW explode(m) t AS idx, cnt
        | WHERE cnt > 0),
        |cmp AS (
        | SELECT COALESCE(me.idx, de.idx) AS idx,
        |  COALESCE(me.cnt, 0) AS mc, COALESCE(de.cnt, 0) AS dc
        | FROM merged me FULL OUTER JOIN dex de ON me.idx = de.idx),
        |q AS (
        | SELECT
        |  MIN(CASE WHEN 2 * cm >= tot THEN lb END) AS p50_merged,
        |  MIN(CASE WHEN 10 * cm >= 9 * tot THEN lb END) AS p90_merged
        | FROM (
        |  SELECT SUM(mc) OVER (ORDER BY idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |   SUM(mc) OVER () AS tot,
        |   CASE WHEN idx < 24 THEN CAST(idx % 8 AS BIGINT)
        |    ELSE SHIFTLEFT(CAST(8 + idx % 8 AS BIGINT), CAST(idx / 8 AS INT) - 3)
        |   END AS lb
        |  FROM cmp)),
        |qd AS (
        | SELECT
        |  MIN(CASE WHEN 2 * cm >= tot THEN lb END) AS p50_direct,
        |  MIN(CASE WHEN 10 * cm >= 9 * tot THEN lb END) AS p90_direct
        | FROM (
        |  SELECT SUM(dc) OVER (ORDER BY idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |   SUM(dc) OVER () AS tot,
        |   CASE WHEN idx < 24 THEN CAST(idx % 8 AS BIGINT)
        |    ELSE SHIFTLEFT(CAST(8 + idx % 8 AS BIGINT), CAST(idx / 8 AS INT) - 3)
        |   END AS lb
        |  FROM cmp))
        |SELECT (SELECT COUNT(*) FROM cmp) AS n_buckets,
        | (SELECT CAST(SUM(CASE WHEN mc != dc THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM cmp) AS n_mismatch,
        | q.p50_merged, qd.p50_direct, q.p90_merged, qd.p90_direct
        |FROM q CROSS JOIN qd""".stripMargin)
  }
  private val k11Sql =
    """WITH v AS (
      | SELECT l_orderkey % 7 AS shard,
      |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS x
      | FROM lineitem
      | WHERE CAST(FLOOR(l_extendedprice) AS BIGINT) > 0),
      |b AS (
      | SELECT shard,
      |  (length(printf('%b', x)) - 1) * 8 +
      |   ((x >> greatest(length(printf('%b', x)) - 4, 0)) & 7) AS idx,
      |  COUNT(*) AS cnt
      | FROM v GROUP BY 1, 2),
      |merged AS (SELECT idx, CAST(SUM(cnt) AS BIGINT) AS mc FROM b GROUP BY 1),
      |direct AS (
      | SELECT (length(printf('%b', x)) - 1) * 8 +
      |   ((x >> greatest(length(printf('%b', x)) - 4, 0)) & 7) AS idx,
      |  COUNT(*) AS dc
      | FROM v GROUP BY 1),
      |cmp AS (
      | SELECT COALESCE(m.idx, d.idx) AS idx, COALESCE(m.mc, 0) AS mc,
      |  COALESCE(d.dc, 0) AS dc
      | FROM merged m FULL OUTER JOIN direct d ON m.idx = d.idx),
      |lbs AS (
      | SELECT idx, mc, dc,
      |  SUM(mc) OVER (ORDER BY idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm_m,
      |  SUM(dc) OVER (ORDER BY idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm_d,
      |  SUM(mc) OVER () AS tot_m, SUM(dc) OVER () AS tot_d,
      |  CASE WHEN idx < 24 THEN CAST(idx % 8 AS BIGINT)
      |   ELSE CAST((8 + idx % 8) * power(2, idx // 8 - 3) AS BIGINT)
      |  END AS lb
      | FROM cmp)
      |SELECT (SELECT COUNT(*) FROM cmp) AS n_buckets,
      | (SELECT CAST(SUM(CASE WHEN mc != dc THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM cmp) AS n_mismatch,
      | MIN(CASE WHEN 2 * cm_m >= tot_m THEN lb END) AS p50_merged,
      | MIN(CASE WHEN 2 * cm_d >= tot_d THEN lb END) AS p50_direct,
      | MIN(CASE WHEN 10 * cm_m >= 9 * tot_m THEN lb END) AS p90_merged,
      | MIN(CASE WHEN 10 * cm_d >= 9 * tot_d THEN lb END) AS p90_direct
      |FROM lbs""".stripMargin

  // ---- w14: noisy-channel spelling correction ------------------------------
  // The Norvig corrector, relationally: candidate corrections for a
  // typo t are vocabulary words c within edit distance 1, ranked by
  // the noisy channel P(c) * P(t|c) — corpus frequency as the prior,
  // a fixed per-distance channel weight (d=0 -> 100, d=1 -> 10; score
  // = freq * weight stays INTEGER, so ranking can never float-flip).
  // Candidates come from d18's deletion-neighborhood equi-join (probe
  // and vocab neighborhoods meet on shared deletions — O(len) index
  // rows per word, never probe x vocab), with an exact levenshtein
  // verify; the ORACLE is the brute-force probe x vocab join, so the
  // green hash re-proves the SymSpell gate lossless in the retrieval
  // setting. Probe list is a broadcast literal dim (j18 convention).
  // probes are all plain-levenshtein distance 1 from a vocab word
  // (transposition typos like "tabel" cost 2 without the Damerau op)
  private val spellProbes = Seq("tabl", "joib", "quary", "scann", "windw",
    "columm", "valu", "strean", "merg", "sorrt")
  private val spellTopK = 3
  private def w14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = rd(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) >= 2)
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .localCheckpoint() // feeds the index build and the prior join
    def nbhd(df: DataFrame, wCol: String) =
      df.select(col(wCol), explode(concat(
        array(col(wCol)),
        expr(s"transform(sequence(1, length($wCol)), " +
          s"i -> concat(substring($wCol, 1, i - 1), substring($wCol, i + 1)))")))
        .as("v"))
    val probes = spellProbes.toDF("typo")
    val cands = nbhd(broadcast(probes), "typo")
      .join(nbhd(vocab.select(col("term")), "term"), Seq("v"))
      .select(col("typo"), col("term")).distinct()
      .withColumn("dist", levenshtein(col("typo"), col("term")))
      .filter(col("dist") <= 1)
    val w = Window.partitionBy(col("typo"))
      .orderBy(col("score").desc, col("term").asc)
    cands.join(vocab, Seq("term"))
      .withColumn("score",
        col("freq") * when(col("dist") === 0, 100L).otherwise(10L))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= spellTopK)
      .select(col("typo"), col("rank"), col("term").as("correction"),
        col("dist"), col("freq"), col("score"))
      .orderBy(col("typo"), col("rank"))
  }
  private val w14Sql = {
    val probeValues = spellProbes.map(p => s"('$p')").mkString(", ")
    s"""WITH vocab AS (
       | SELECT term, COUNT(*) AS freq FROM (
       |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
       | WHERE length(term) >= 2 GROUP BY 1),
       |probes AS (SELECT typo FROM (VALUES $probeValues) AS p(typo)),
       |cands AS (
       | SELECT p.typo, v.term, levenshtein(p.typo, v.term) AS dist,
       |  v.freq
       | FROM probes p JOIN vocab v ON levenshtein(p.typo, v.term) <= 1)
       |SELECT typo, rank, correction, dist, freq, score FROM (
       | SELECT typo, term AS correction, dist, freq,
       |  CAST(freq * CASE WHEN dist = 0 THEN 100 ELSE 10 END AS BIGINT)
       |   AS score,
       |  ROW_NUMBER() OVER (PARTITION BY typo
       |   ORDER BY freq * CASE WHEN dist = 0 THEN 100 ELSE 10 END DESC,
       |            term ASC) AS rank
       | FROM cands)
       |WHERE rank <= $spellTopK ORDER BY typo, rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k11_qsketch_merge" -> (k11 _),
    "w14_spell_correct" -> (w14 _),
    "k10_sketch_audit" -> (k10 _),
    "w13_autocomplete" -> (w13 _),
    "w12_postings_varint" -> (w12 _),
    "w11_mmr_rerank" -> (w11 _),
    "w09_rocchio_prf" -> (w09 _),
    "k07_quantile_sketch" -> (k07 _),
    "w07_snippet_window" -> (w07 _),
    "w06_pmi_cooccur" -> (w06 _),
    "w04_rrf_fusion" -> (w04 _),
    "w05_ndcg_eval" -> (w05 _),
    "k03_bloom_filter" -> (k03 _),
    "w03_phrase_search" -> (w03 _),
    "w01_bm25_rank" -> (w01 _),
    "w08_ql_dirichlet" -> (w08 _),
    "w10_champion_lists" -> (w10 _),
    "w02_zorder_layout" -> (w02 _),
    "k01_cms_sketch" -> (k01 _),
    "k02_cms_estimate" -> (k02 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "k11_qsketch_merge" -> k11Sql,
    "w14_spell_correct" -> w14Sql,
    "k10_sketch_audit" -> k10Sql,
    "w13_autocomplete" -> w13Sql,
    "w12_postings_varint" -> w12Sql,
    "w11_mmr_rerank" -> w11Sql,
    "w09_rocchio_prf" -> w09Sql,
    "k07_quantile_sketch" -> k07Sql,
    "w07_snippet_window" -> w07Sql,
    "w06_pmi_cooccur" -> w06Sql,
    "w04_rrf_fusion" -> w04Sql,
    "w05_ndcg_eval" -> w05Sql,
    "k03_bloom_filter" -> k03Sql,
    "w03_phrase_search" -> w03Sql,
    "w01_bm25_rank" -> w01Sql,
    "w08_ql_dirichlet" -> w08Sql,
    "w10_champion_lists" -> w10Sql,
    "w02_zorder_layout" -> w02Sql,
    "k01_cms_sketch" -> k01Sql,
    "k02_cms_estimate" -> k02Sql
  ).view
}
