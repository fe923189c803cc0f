package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting,
  * shingling, JSON field extraction — all over the `documents` table.
  *
  * Everything is higher-order array functions / codegen'd expressions on
  * the string column — no UDFs, so the whole family stays inside
  * whole-stage codegen and scales linearly with a parquet scan. DuckDB
  * oracles use list lambdas mirroring the same computation.
  */
object TextQueries extends QueryFamily {

  // ---- t01: token counting (whitespace + regex) --------------------------
  // Whitespace tokens and a BPE-ish alpha-run tokenization.
  private def t01(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    d.select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_alpha_tokens"),
        length(col("text")).as("n_chars_actual"))
      .orderBy(col("doc_id"))
  }
  private val t01Sql =
    """SELECT doc_id,
      | len(string_split(text, ' ')) AS n_ws_tokens,
      | len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
      | length(text) AS n_chars_actual
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- t02: quality scoring ----------------------------------------------
  // Length/stopword/short-word ratios -> a composite quality score, the
  // standard heuristic pre-filter for LLM training corpora.
  private def t02(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val toks = split(col("text"), " ")
    val n = size(toks)
    val nStop = size(filter(toks, w => w === "the" || w === "a"))
    val nShort = size(filter(toks, w => length(w) <= 2))
    val meanLen = expr("aggregate(split(text, ' '), 0L, (acc, w) -> acc + length(w))")
      .cast("double") / n
    val quality = (lit(1.0) - nStop.cast("double") / n) *
      (lit(1.0) - nShort.cast("double") / n)
    d.select(col("doc_id"), n.as("n_tokens"),
        (nStop.cast("double") / n).cast("float").as("stopword_ratio"),
        (nShort.cast("double") / n).cast("float").as("short_ratio"),
        meanLen.cast("float").as("mean_word_len"),
        quality.cast("float").as("quality"))
      .orderBy(col("doc_id"))
  }
  private val t02Sql =
    """SELECT doc_id,
      | len(string_split(text, ' ')) AS n_tokens,
      | CAST(CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS REAL) AS stopword_ratio,
      | CAST(CAST(len(list_filter(string_split(text, ' '), w -> length(w) <= 2)) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS REAL) AS short_ratio,
      | CAST(CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS REAL) AS mean_word_len,
      | CAST((1.0 - CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS DOUBLE)
      |            / len(string_split(text, ' ')))
      |    * (1.0 - CAST(len(list_filter(string_split(text, ' '), w -> length(w) <= 2)) AS DOUBLE)
      |            / len(string_split(text, ' '))) AS REAL) AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- t03: language ID (marker n-gram heuristic) ------------------------
  // Score candidate classes by marker-token counts, argmax with a fixed
  // priority tie-break — the classic fasttext-lite heuristic shape.
  private def t03(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val toks = split(col("text"), " ")
    val c1 = size(filter(toks, w => w === "the" || w === "a"))
    val c2 = size(filter(toks, w => w === "spark" || w === "query" || w === "table"))
    val c3 = size(filter(toks, w => w === "data" || w === "row" || w === "value"))
    val label = when(c1 >= c2 && c1 >= c3, "natural")
      .when(c2 >= c3, "tech").otherwise("data")
    d.select(col("doc_id"), c1.as("score_natural"), c2.as("score_tech"),
        c3.as("score_data"), label.as("pred_class"))
      .orderBy(col("doc_id"))
  }
  private val t03Sql =
    """SELECT doc_id,
      | len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS score_natural,
      | len(list_filter(string_split(text, ' '), w -> w = 'spark' OR w = 'query' OR w = 'table')) AS score_tech,
      | len(list_filter(string_split(text, ' '), w -> w = 'data' OR w = 'row' OR w = 'value')) AS score_data,
      | CASE WHEN len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a'))
      |        >= len(list_filter(string_split(text, ' '), w -> w = 'spark' OR w = 'query' OR w = 'table'))
      |       AND len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a'))
      |        >= len(list_filter(string_split(text, ' '), w -> w = 'data' OR w = 'row' OR w = 'value'))
      |      THEN 'natural'
      |      WHEN len(list_filter(string_split(text, ' '), w -> w = 'spark' OR w = 'query' OR w = 'table'))
      |        >= len(list_filter(string_split(text, ' '), w -> w = 'data' OR w = 'row' OR w = 'value'))
      |      THEN 'tech' ELSE 'data' END AS pred_class
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- t04: document fingerprint (rolling hash) --------------------------
  // Horner rolling hash of the first 16 chars, mod 1e9+7 — the content
  // fingerprint used for cheap near-exact dedup.
  private val fpLen = 16; private val fpMod = 1000000007L
  private def t04(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val h = (1 to fpLen).foldLeft(lit(0L)) { (acc, i) =>
      (acc * 31L + ascii(substring(col("text"), i, 1))) % fpMod
    }
    d.select(col("doc_id"), h.as("fingerprint")).orderBy(col("doc_id"))
  }
  private val t04Sql = {
    val h = (1 to fpLen).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
      s"(($acc * 31 + ascii(substr(text, $i, 1))) % $fpMod)"
    }
    s"SELECT doc_id, $h AS fingerprint FROM documents ORDER BY doc_id"
  }

  // ---- t05: character shingles -------------------------------------------
  // Distinct char-3-gram count — the input signal for n-gram Jaccard
  // dedup; array HOFs only, no explode, no shuffle.
  private def t05(s: SparkSession, dir: String): DataFrame = {
    // one-file source = one input split; spread the per-char lambda
    // work across cores (d02's repartition-before-compute rule)
    val d = rd(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
    d.select(col("doc_id"),
        expr("size(array_distinct(transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))))")
          .as("n_shingles"),
        (length(col("text")) - 2).as("n_total"))
      .orderBy(col("doc_id"))
  }
  private val t05Sql =
    """SELECT doc_id,
      | len(list_distinct(list_transform(generate_series(1, length(text) - 2),
      |     i -> substr(text, i, 3)))) AS n_shingles,
      | length(text) - 2 AS n_total
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- t06: JSON field extraction ----------------------------------------
  // Semi-structured props column -> typed value (events table).
  private def t06(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    ev.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id"))
  }
  private val t06Sql =
    """SELECT event_id,
      | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin

  // ---- t08: entity redaction (PII-scrub shape) ---------------------------
  // The regexp-replace scrub pass every training-data pipeline runs
  // before release: mask entity mentions, count hits, emit a content
  // hash of the scrubbed text. Spark's regexp_replace is global by
  // default; DuckDB needs the explicit 'g' flag — and the replacement
  // carries no backreferences because the two engines disagree on
  // backref syntax ($1 vs \1).
  private val entPat = "(customer|supplier|user) [a-z]+"
  private def t08(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val masked = regexp_replace(col("text"), entPat, "[ENT]")
    d.select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$entPat', 0)")).as("n_hits"),
        length(masked).as("masked_len"),
        md5(masked).as("masked_hash"))
      .orderBy(col("doc_id"))
  }
  private val t08Sql =
    s"""SELECT doc_id,
       | len(regexp_extract_all(text, '$entPat')) AS n_hits,
       | length(regexp_replace(text, '$entPat', '[ENT]', 'g')) AS masked_len,
       | md5(regexp_replace(text, '$entPat', '[ENT]', 'g')) AS masked_hash
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- d08: keep-best-per-duplicate-group --------------------------------
  // The dedup endgame: within each near-dup group keep the single
  // highest-quality document (quality = t02's composite), drop the rest.
  // Ranking is over the float32-cast score with doc_id tie-break, so the
  // keeper choice cannot flip on a summation ulp (round-1 convention).
  private def d08(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val toks = split(col("text"), " ")
    val n = size(toks)
    val nStop = size(filter(toks, w => w === "the" || w === "a"))
    val nShort = size(filter(toks, w => length(w) <= 2))
    val quality = ((lit(1.0) - nStop.cast("double") / n) *
      (lit(1.0) - nShort.cast("double") / n)).cast("float")
    val blocked = d.select(col("doc_id"),
      concat_ws("_", col("source"), (col("n_chars") / 50).cast("long")).as("grp"),
      quality.as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("quality").desc, col("doc_id").asc)
    blocked.withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("grp"), col("quality"),
        (col("rank") === 1).as("is_keeper"))
      .orderBy(col("doc_id"))
  }
  private val d08Sql =
    """WITH q AS (
      | SELECT doc_id, source || '_' || CAST(n_chars // 50 AS BIGINT) AS grp,
      |  CAST((1.0 - CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS DOUBLE)
      |            / len(string_split(text, ' ')))
      |     * (1.0 - CAST(len(list_filter(string_split(text, ' '), w -> length(w) <= 2)) AS DOUBLE)
      |            / len(string_split(text, ' '))) AS REAL) AS quality
      | FROM documents)
      |SELECT doc_id, grp, quality,
      | ROW_NUMBER() OVER (PARTITION BY grp ORDER BY quality DESC, doc_id ASC) = 1 AS is_keeper
      |FROM q ORDER BY doc_id""".stripMargin

  // ---- t09: deterministic stratified sampling (data mixture) -------------
  // Corpus curation's mixing step: per-stratum keep rates applied with a
  // deterministic integer hash coin, so any re-run (or any engine)
  // selects the SAME documents — no RNG, no seed plumbing, fully
  // reproducible lineage, and the sample is an equi-filter that pushes
  // into the scan rather than a shuffle.
  private val mixRates: Seq[(String, Int)] = // per-mille keep rates
    Seq("en" -> 500, "de" -> 900, "zh" -> 300, "fr" -> 700, "es" -> 1000)
  private def t09(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val rate = mixRates.tail.foldLeft(
      when(col("lang") === mixRates.head._1, mixRates.head._2)) {
      case (acc, (l, r)) => acc.when(col("lang") === l, r)
    }.otherwise(0)
    val coin = (col("doc_id") * 2654435761L) % 1000
    d.select(col("doc_id"), col("lang"), coin.as("coin"), rate.as("rate_pm"))
      .filter(col("coin") < col("rate_pm"))
      .orderBy(col("doc_id"))
  }
  private val t09Sql = {
    val rate = mixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""SELECT doc_id, lang, (doc_id * 2654435761) % 1000 AS coin,
       | $rate AS rate_pm
       |FROM documents
       |WHERE (doc_id * 2654435761) % 1000 < ($rate)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- t10: intra-document repetition ------------------------------------
  // The "repetitive document" quality signal (Gopher rule family):
  // fraction of word-3-gram occurrences that are repeats of an earlier
  // gram, and the highest multiplicity of any single gram. Pure array
  // HOFs in one projection — scales as a linear scan; the max-multiplicity
  // probe is O(distinct × total) per DOCUMENT (not per corpus), bounded
  // by document length. The CASE guards Spark's sequence(1, n<1)
  // reversal; DuckDB's generate_series is already empty there.
  private def t10(s: SparkSession, dir: String): DataFrame = {
    // repartition: the O(distinct x total) per-doc probe otherwise runs
    // on the source's single input split (6.5 s -> ~0.5 s at sf0.1)
    val d = rd(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
    // tokenize ONCE per doc in a projection below: the inlined
    // split(text) re-ran per GRAM inside the lambda — O(tokens²)/doc
    // (same fix as DedupQueries.wordGrams, r15)
    val gs = expr(
      """CASE WHEN size(ts) >= 3
        | THEN transform(sequence(1, size(ts) - 2),
        |   i -> array_join(slice(ts, i, 3), ' '))
        | ELSE CAST(array() AS array<string>) END""".stripMargin)
    d.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), gs.as("gs"))
      .select(col("doc_id"),
        size(col("gs")).as("n_grams"),
        size(array_distinct(col("gs"))).as("n_distinct"),
        coalesce((lit(1.0) - size(array_distinct(col("gs"))).cast("double") /
          nullif(size(col("gs")), lit(0))).cast("float"), lit(0.0f)).as("rep_ratio"),
        coalesce(expr(
          "array_max(transform(array_distinct(gs), g -> size(filter(gs, x -> x = g))))"),
          lit(0)).as("max_rep"))
      .orderBy(col("doc_id"))
  }
  private val t10Sql =
    """WITH g AS (
      | SELECT doc_id, list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
      |   i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')) AS gs
      | FROM documents)
      |SELECT doc_id,
      | len(gs) AS n_grams,
      | len(list_distinct(gs)) AS n_distinct,
      | CAST(COALESCE(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / NULLIF(len(gs), 0), 0.0) AS REAL) AS rep_ratio,
      | COALESCE(list_max(list_transform(list_distinct(gs), g -> len(list_filter(gs, x -> x = g)))), 0) AS max_rep
      |FROM g ORDER BY doc_id""".stripMargin

  // ---- t11: sequence packing (concat-and-slice context windows) ----------
  // GPT-style pretraining packing: per source stream, documents are
  // concatenated in a deterministic order (doc_id) and sliced into
  // fixed-token context windows; a document can straddle a window
  // boundary. The mapping each trainer needs — which sequences does
  // each doc land in — is a running token total: one window cumsum per
  // source (a single shuffle keyed by source), no explode, no join.
  // At 100 TB this is the same plan with range-partitioned sources;
  // the cumsum is the only order-sensitive step and its order is the
  // explicit (source, doc_id) sort, not arrival order.
  private val packBudget = 512
  private def t11(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    d.select(col("doc_id"), col("source"),
        expr("size(split(text, ' '))").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("source"), col("n_tok"),
        (col("cum") - col("n_tok")).as("tok_offset"),
        expr(s"(cum - n_tok) div $packBudget").as("seq_first"),
        expr(s"(cum - 1) div $packBudget").as("seq_last"))
      .withColumn("n_seqs", (col("seq_last") - col("seq_first") + 1).cast("int"))
      .orderBy(col("source"), col("doc_id"))
  }
  private val t11Sql =
    s"""WITH x AS (
       | SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
       |  SUM(len(string_split(text, ' '))) OVER (PARTITION BY source
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       | FROM documents)
       |SELECT doc_id, source, n_tok,
       | CAST(cum - n_tok AS BIGINT) AS tok_offset,
       | CAST((cum - n_tok) // $packBudget AS BIGINT) AS seq_first,
       | CAST((cum - 1) // $packBudget AS BIGINT) AS seq_last,
       | CAST((cum - 1) // $packBudget - (cum - n_tok) // $packBudget + 1 AS INTEGER) AS n_seqs
       |FROM x ORDER BY source, doc_id""".stripMargin

  // ---- t12: overlapping chunking (RAG ingestion) ---------------------------
  // Fixed-width character chunks with stride overlap — the retrieval
  // ingestion shape (chunk → embed → index). Chunk count is exact
  // integer arithmetic (ceil((n-W)/S) + 1, 1 chunk for short docs);
  // the explode is O(total chunks) and each chunk carries its own
  // hash, so the downstream embed/index stages never re-touch the
  // parent document. Purely partition-local — no shuffle at all until
  // a consumer aggregates.
  private val chunkW = 200; private val chunkS = 150
  private def t12(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    d.select(col("doc_id"), col("text"), col("n_chars"),
        expr(s"(greatest(n_chars - $chunkW, 0) + $chunkS - 1) div $chunkS + 1")
          .as("n_chunks"))
      .select(col("doc_id"), col("n_chunks"),
        explode(expr("sequence(0, CAST(n_chunks AS INT) - 1)")).as("chunk_idx"),
        col("text"))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"substring(text, chunk_idx * $chunkS + 1, $chunkW)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).as("chunk_len"),
        md5(col("chunk")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }
  private val t12Sql =
    s"""WITH n AS (
       | SELECT doc_id, text,
       |  (greatest(n_chars - $chunkW, 0) + $chunkS - 1) // $chunkS + 1 AS n_chunks
       | FROM documents),
       |c AS (
       | SELECT doc_id, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx, text
       | FROM n)
       |SELECT doc_id, chunk_idx,
       | length(substring(text, chunk_idx * $chunkS + 1, $chunkW)) AS chunk_len,
       | md5(substring(text, chunk_idx * $chunkS + 1, $chunkW)) AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- t17: BPE merge-candidate pair counts --------------------------------
  // One step of byte-pair-encoding tokenizer TRAINING: count adjacent
  // character pairs across the corpus, weighted by word frequency —
  // the argmax pair is the next merge. The corpus collapses to its
  // word-frequency table FIRST (vocab-sized, tiny vs corpus), so the
  // per-word character-pair explode runs over |vocab| rows, not |docs|
  // — at 100 TB the heavy shuffle is the word count (map-side
  // combined), and the pair stage is effectively free. That
  // count-then-explode order is the thing that makes distributed BPE
  // training feasible; counting pairs directly off raw text would
  // shuffle corpus-sized intermediate data per merge step.
  private val bpeTopK = 20
  private def t17(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val words = d.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    val pairs = words
      .select(col("wc"), explode(expr(
        "transform(sequence(1, CAST(length(word) - 1 AS INT)), " +
          "i -> substring(word, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("pair").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= bpeTopK)
      .select(col("rank"), col("pair"), col("cnt"))
      .orderBy(col("rank"))
  }
  private val t17Sql =
    s"""WITH words AS (
       | SELECT word, COUNT(*) AS wc FROM (
       |  SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
       | WHERE LENGTH(word) >= 2 GROUP BY 1),
       |pairs AS (
       | SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
       |  SELECT wc, UNNEST(list_transform(generate_series(1, LENGTH(word) - 1),
       |    i -> substring(word, CAST(i AS INT), 2))) AS pair
       |  FROM words) GROUP BY 1)
       |SELECT rank, pair, cnt
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair ASC) AS rank
       |      FROM pairs)
       |WHERE rank <= $bpeTopK ORDER BY rank""".stripMargin

  // ---- t26: full BPE encode with a frozen merge vocabulary -----------------
  // Closes t17's loop: t17 computes ONE training step (pair counts);
  // graft.text.BpeTrainer iterates it to a merge list, and this query
  // APPLIES the trained vocabulary — the tokenizer's encode path. The
  // 64 merges below are the artifact BpeTrainMain produced on sf0.01
  // (a tokenizer vocabulary is a frozen, versioned artifact at encode
  // time — exactly how production pipelines ship tokenizers), embedded
  // as identical literals in the Spark plan and the oracle, so the
  // oracle REPLAYS the same merge list.
  //
  // Scale shape (the property that makes BPE encode distributable):
  // the corpus collapses to its DISTINCT-WORD vocabulary first, the
  // 64-merge replace chain runs once per distinct word (vocab-sized,
  // tiny), and token counts re-attach to docs via a broadcast join —
  // the only corpus-sized stages are the word explode and the final
  // per-doc aggregation. Merge application is the |sym| wrapper
  // rewrite documented on BpeTrainer: `|a||b|` → `|ab|`, leftmost
  // non-overlapping single sweep per merge — semantics shared by
  // Spark's and DuckDB's `replace`, proven equivalent to the
  // sequential reference implementation in BpeSpec.
  private val bpeMerges: Seq[graft.text.BpeTrainer.Merge] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"),
    ("s", "mall"), ("g", "e"), ("l", "ow"), ("mer", "ge"),
    ("s", "low"), ("c", "t"), ("ct", "or"), ("d", "er"),
    ("e", "ctor"), ("or", "der"), ("v", "ector"), ("in", "e"),
    ("l", "ine"), ("a", "b"), ("ab", "l"), ("abl", "e"), ("at", "a"),
    ("d", "ata"), ("t", "able"), ("u", "p"), ("a", "g"), ("ag", "g"),
    ("a", "lu"), ("alu", "e"), ("v", "alue"), ("e", "y"), ("k", "ey")
  ).map { case (l, r) => graft.text.BpeTrainer.Merge(l, r) }

  private def t26(s: SparkSession, dir: String): DataFrame = {
    import graft.text.BpeTrainer
    val d = rd(s, dir, "documents")
    val words = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = words.select(col("word")).distinct()
      .withColumn("w0", expr("regexp_replace(word, '(.)', '|$1|')"))
      .withColumn("tok", expr(BpeTrainer.applySqlExpr("w0", bpeMerges)))
      .select(col("word"),
        expr("size(split(trim(BOTH '|' FROM tok), '\\\\|\\\\|'))")
          .cast("long").as("nt"))
    words.join(broadcast(vocab), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars_words"),
        sum(col("nt")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }
  private val t26Sql = {
    val chain = graft.text.BpeTrainer.applySqlExpr("w0", bpeMerges)
    s"""WITH words AS (
       | SELECT doc_id, word FROM (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
       | WHERE LENGTH(word) > 0),
       |vocab AS (SELECT DISTINCT word FROM words),
       |wrapped AS (
       | SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS w0 FROM vocab),
       |tok AS (SELECT word, $chain AS tok FROM wrapped),
       |cnt AS (
       | SELECT word, len(string_split(trim(tok, '|'), '||')) AS nt FROM tok)
       |SELECT doc_id,
       | COUNT(*) AS n_words,
       | CAST(SUM(LENGTH(word)) AS BIGINT) AS n_chars_words,
       | CAST(SUM(nt) AS BIGINT) AS n_tokens
       |FROM words JOIN cnt USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- t37: tokenizer fertility by language ---------------------------------
  // The tokenizer-evaluation metric multilingual pipelines report
  // (fertility = subword tokens per word, bytes per token; e.g. the
  // XLM-R / NLLB tokenizer audits): a tokenizer trained on one
  // distribution pays a fertility premium on others, which inflates
  // effective sequence length and training cost per document. Applies
  // t26's frozen 64-merge BPE vocabulary VERBATIM (same literal merge
  // list in both engines) and aggregates per `lang` instead of per doc.
  //
  // Scale design: identical to t26 — the encode chain runs once per
  // DISTINCT word (vocab-sized), counts re-attach via a broadcast
  // join, and the per-language rollup is a map-side-combined aggregate
  // over integers; the ratios are single divisions micro-quantized at
  // the output edge.
  private def t37(s: SparkSession, dir: String): DataFrame = {
    import graft.text.BpeTrainer
    val d = rd(s, dir, "documents")
    val words = d
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = words.select(col("word")).distinct()
      .withColumn("w0", expr("regexp_replace(word, '(.)', '|$1|')"))
      .withColumn("tok", expr(BpeTrainer.applySqlExpr("w0", bpeMerges)))
      .select(col("word"),
        expr("size(split(trim(BOTH '|' FROM tok), '\\\\|\\\\|'))")
          .cast("long").as("nt"))
    words.join(broadcast(vocab), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_bytes"),
        sum(col("nt")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_bytes"), col("n_tokens"),
        expr("CAST(floor(1e6 * n_tokens / n_words) AS BIGINT)")
          .as("fertility_micro"),
        expr("CAST(floor(1e6 * n_bytes / n_tokens) AS BIGINT)")
          .as("bytes_per_token_micro"))
      .orderBy(col("lang"))
  }
  private val t37Sql = {
    val chain = graft.text.BpeTrainer.applySqlExpr("w0", bpeMerges)
    s"""WITH words AS (
       | SELECT lang, word FROM (
       |  SELECT lang, UNNEST(string_split(text, ' ')) AS word FROM documents)
       | WHERE LENGTH(word) > 0),
       |vocab AS (SELECT DISTINCT word FROM words),
       |wrapped AS (
       | SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS w0 FROM vocab),
       |tok AS (SELECT word, $chain AS tok FROM wrapped),
       |cnt AS (
       | SELECT word, len(string_split(trim(tok, '|'), '||')) AS nt FROM tok)
       |SELECT lang,
       | COUNT(*) AS n_words,
       | CAST(SUM(LENGTH(word)) AS BIGINT) AS n_bytes,
       | CAST(SUM(nt) AS BIGINT) AS n_tokens,
       | CAST(FLOOR(1e6 * SUM(nt) / COUNT(*)) AS BIGINT) AS fertility_micro,
       | CAST(FLOOR(1e6 * SUM(LENGTH(word)) / SUM(nt)) AS BIGINT)
       |   AS bytes_per_token_micro
       |FROM words JOIN cnt USING (word)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- t18: per-document TF-IDF top terms ----------------------------------
  // The classic keyword-extraction reduction: explode (doc, term),
  // aggregate term frequency per doc, join the corpus document
  // frequency (vocab-sized — broadcast), score tf * ln(N / df), keep
  // the top 3 terms per doc. The (doc, term) explode is the standard
  // inverted-index shuffle; df and N are the only corpus-wide state.
  // Score is cast to float32 (absorbs ln() last-ulp differences
  // between libm and the JVM, the same discipline as w01's BM25).
  private val tfidfTopK = 3
  private def t18(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        expr("CAST(tf * ln(CAST(n_docs AS DOUBLE) / df) AS FLOAT)"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= tfidfTopK)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }
  private val t18Sql =
    s"""WITH tf AS (
       | SELECT doc_id, term, COUNT(*) AS tf FROM (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents)
       | WHERE LENGTH(term) > 0 GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       | SELECT t.doc_id, t.term, t.tf,
       |  CAST(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) AS REAL) AS tfidf
       | FROM tf t JOIN df d USING (term) CROSS JOIN n)
       |SELECT doc_id, rank, term, tf, tfidf
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY tfidf DESC, term ASC) AS rank
       |      FROM scored)
       |WHERE rank <= $tfidfTopK ORDER BY doc_id, rank""".stripMargin

  // ---- t19: composite quality GATE (Gopher-style accept/reject) ------------
  // The decision stage that consumes t02-style signals: each document
  // passes or fails a battery of bounds, with machine-readable reject
  // reasons. Every threshold is an INTEGER cross-multiplication
  // (alpha_chars * 100 < n_chars * 55, never a float ratio), so the
  // gate is exact and engine-portable; reasons concatenate in a fixed
  // order into one string column. One scan, one projection — the gate
  // adds zero shuffles to a curation pipeline.
  private def t19(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val base = d.select(col("doc_id"), col("n_chars"),
      expr("size(split(text, ' '))").as("n_words"),
      expr("length(regexp_replace(text, '[^a-zA-Z]', ''))").as("alpha_chars"),
      expr("length(regexp_replace(text, '[^0-9]', ''))").as("digit_chars"))
    base.select(col("doc_id"), col("n_chars"), col("n_words"),
        (col("n_chars") < 50).as("r_short"),
        (col("n_chars") > 20000).as("r_long"),
        (col("alpha_chars") * 100 < col("n_chars") * 55).as("r_low_alpha"),
        (col("digit_chars") * 100 > col("n_chars") * 20).as("r_digits"),
        (col("n_words") > 0 && col("n_chars") > col("n_words") * 15)
          .as("r_long_words"))
      .select(col("doc_id"), col("n_chars"), col("n_words"),
        (!col("r_short") && !col("r_long") && !col("r_low_alpha") &&
          !col("r_digits") && !col("r_long_words")).as("pass"),
        concat_ws(",",
          when(col("r_short"), lit("short")),
          when(col("r_long"), lit("long")),
          when(col("r_low_alpha"), lit("low_alpha")),
          when(col("r_digits"), lit("digits")),
          when(col("r_long_words"), lit("long_words"))).as("reasons"))
      .orderBy(col("doc_id"))
  }
  private val t19Sql =
    """WITH base AS (
      | SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_words,
      |  LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
      |  LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars
      | FROM documents),
      |flags AS (
      | SELECT doc_id, n_chars, n_words,
      |  n_chars < 50 AS r_short,
      |  n_chars > 20000 AS r_long,
      |  alpha_chars * 100 < n_chars * 55 AS r_low_alpha,
      |  digit_chars * 100 > n_chars * 20 AS r_digits,
      |  n_words > 0 AND n_chars > n_words * 15 AS r_long_words
      | FROM base)
      |SELECT doc_id, n_chars, n_words,
      | NOT (r_short OR r_long OR r_low_alpha OR r_digits OR r_long_words) AS pass,
      | concat_ws(',',
      |  CASE WHEN r_short THEN 'short' END,
      |  CASE WHEN r_long THEN 'long' END,
      |  CASE WHEN r_low_alpha THEN 'low_alpha' END,
      |  CASE WHEN r_digits THEN 'digits' END,
      |  CASE WHEN r_long_words THEN 'long_words' END) AS reasons
      |FROM flags ORDER BY doc_id""".stripMargin

  // ---- t20: vocabulary coverage / OOV rate ---------------------------------
  // The tokenizer-readiness report every training pipeline runs before
  // committing to a vocabulary: build the top-V corpus vocabulary by
  // frequency (deterministic tie-break: count desc, term asc) and
  // measure each document's out-of-vocabulary token rate against it.
  // Scale shape: the (doc, term) explode feeds ONE map-side-combined
  // count shuffle whose key space is the VOCABULARY (tiny), the top-V
  // cut is a sort of that vocab-sized table, and the per-doc pass
  // re-derives tokens and probes the vocab via a BROADCAST left semi
  // lookup — the raw corpus is scanned twice but shuffled never
  // (per-doc agg keys on doc_id, collapsed map-side). The OOV rate is
  // one integer division cast to float32.
  private val vocabTopV = 24
  private def t20(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val wV = Window.orderBy(col("n").desc, col("term").asc)
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .withColumn("vrank", row_number().over(wV))
      .filter(col("vrank") <= vocabTopV)
      .select(col("term"))
    toks.join(broadcast(vocab).withColumn("in_vocab", lit(1)),
        Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("CAST(CAST(n_oov AS DOUBLE) / n_tokens AS FLOAT)").as("oov_rate"))
      .orderBy(col("doc_id"))
  }
  private val t20Sql =
    s"""WITH toks AS (
       | SELECT doc_id, term FROM (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents)
       | WHERE LENGTH(term) > 0),
       |vocab AS (
       | SELECT term FROM (
       |  SELECT term, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term ASC) AS vrank
       |  FROM toks GROUP BY term)
       | WHERE vrank <= $vocabTopV)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       | CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       | CAST(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |   / COUNT(*) AS REAL) AS oov_rate
       |FROM toks t LEFT JOIN vocab v ON t.term = v.term
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---- t22: Zipf rank-frequency fit ----------------------------------------
  // Corpus-statistics report: OLS fit of ln(freq) vs ln(rank) over the
  // top-N terms. Natural text follows Zipf's law with slope ≈ −1;
  // strong deviation (flat or cliff-shaped curves) flags templated /
  // machine-generated corpora — a standard curation diagnostic. Scale
  // shape: the term-frequency table is vocab-bounded, the top-N cut is
  // a distributed TakeOrderedAndProject, and the fit consumes N = 100
  // rows. Cross-engine float discipline: ln(rank)/ln(freq) are
  // micro-quantized to longs BEFORE summation (order-free integer
  // adds, the u16 OLS pattern), and slope/intercept/r are single
  // fixed-parenthesization double expressions over those exact sums.
  private val zipfTopN = 100
  private def t22(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val tf = d.select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val wR = Window.orderBy(col("freq").desc, col("term").asc)
    val pts = tf.orderBy(col("freq").desc, col("term").asc).limit(zipfTopN)
      .withColumn("r", row_number().over(wR))
      .select(
        expr("CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)").as("xq"),
        expr("CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)").as("yq"))
    pts.agg(count(lit(1)).as("n"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"),
        sum(col("yq") * col("yq")).as("syy"))
      .select(col("n"),
        expr("CAST(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS FLOAT)")
          .as("zipf_slope"),
        expr("""CAST((CAST(sy AS DOUBLE) / 1000000.0
            | - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
            |   * (CAST(sx AS DOUBLE) / 1000000.0)) / n AS FLOAT)""".stripMargin)
          .as("zipf_intercept"),
        expr("""CAST(CAST(n * sxy - sx * sy AS DOUBLE)
            | / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
            |        * CAST(n * syy - sy * sy AS DOUBLE)) AS FLOAT)""".stripMargin)
          .as("pearson_r"))
  }
  private val t22Sql =
    s"""WITH tf AS (
       | SELECT term, COUNT(*) AS freq FROM (
       |  SELECT UNNEST(string_split(text, ' ')) AS term FROM documents)
       | WHERE LENGTH(term) > 0 GROUP BY term),
       |pts AS (
       | SELECT CAST(FLOOR(LN(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS xq,
       |  CAST(FLOOR(LN(CAST(freq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS yq
       | FROM (SELECT freq,
       |        ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS r
       |       FROM tf)
       | WHERE r <= $zipfTopN),
       |agg AS (
       | SELECT COUNT(*) AS n,
       |  CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
       |  CAST(SUM(xq * yq) AS BIGINT) AS sxy,
       |  CAST(SUM(xq * xq) AS BIGINT) AS sxx,
       |  CAST(SUM(yq * yq) AS BIGINT) AS syy
       | FROM pts)
       |SELECT n,
       | CAST(CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS REAL)
       |   AS zipf_slope,
       | CAST((CAST(sy AS DOUBLE) / 1000000.0
       |   - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
       |     * (CAST(sx AS DOUBLE) / 1000000.0)) / n AS REAL) AS zipf_intercept,
       | CAST(CAST(n * sxy - sx * sy AS DOUBLE)
       |  / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
       |         * CAST(n * syy - sy * sy AS DOUBLE)) AS REAL) AS pearson_r
       |FROM agg""".stripMargin

  // ---- t23: deterministic epoch shuffle ------------------------------------
  // Reproducible training-order planning: epoch e's data order is a
  // SEEDED permutation — every row gets a hash position, lands in
  // shard = h mod S, and takes its within-shard position from the
  // (shard)-partitioned rank over (h, doc_id). Changing the epoch seed
  // permutes everything; re-running the same epoch reproduces the order
  // byte-for-byte on any cluster layout (the property dataloader
  // resumption needs — arrival order never participates). Scale: one
  // hash projection + one rank window PARTITIONED by shard; no global
  // funnel, shards scale with S.
  private val epochSeed = 7L
  private val epochShards = 8L
  private val epochP = 2147483647L
  private def t23(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val h = s"(((doc_id * 2654435761) + $epochSeed) % $epochP)"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc)
    d.select(col("doc_id"), expr(h).as("h"))
      .withColumn("shard", expr(s"h % $epochShards"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }
  private val t23Sql = {
    val h = s"(((doc_id * 2654435761) + $epochSeed) % $epochP)"
    s"""WITH hashed AS (
       | SELECT doc_id, $h AS h, $h % $epochShards AS shard FROM documents)
       |SELECT doc_id, shard,
       | CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC)
       |   AS BIGINT) AS pos
       |FROM hashed ORDER BY shard, pos""".stripMargin
  }

  // ---- t24: temperature (alpha) mixture reweighting ------------------------
  // The multilingual-corpus sampling rule (mC4 / XLM-R): source s is
  // drawn with probability ∝ n_s^α, α < 1 flattening the head so
  // low-resource sources are upsampled. Shares and integer target
  // allocations for a fixed budget, all from the |sources|-sized count
  // table. Float discipline: n^α (libm pow) is micro-quantized to a
  // long IMMEDIATELY (one op, then exact integer sums — the order-free
  // rule), shares are single divisions of exact longs, and the budget
  // allocation is pure integer floor division.
  private val mixAlpha = "0.3"
  private val mixBudget = 1000L
  private def t24(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("wq",
        expr(s"CAST(floor(power(CAST(n_docs AS DOUBLE), $mixAlpha) * 1000000 + 0.5) AS BIGINT)"))
    val tot = counts.agg(sum(col("wq")).as("wsum"), sum(col("n_docs")).as("ntot"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr("CAST(CAST(n_docs AS DOUBLE) / ntot AS FLOAT)").as("raw_share"),
        expr("CAST(CAST(wq AS DOUBLE) / wsum AS FLOAT)").as("alpha_share"),
        expr(s"(wq * $mixBudget) div wsum").as("target_docs"),
        expr(s"CAST(CAST(wq * $mixBudget AS DOUBLE) / (wsum * n_docs) AS FLOAT)")
          .as("sample_factor"))
      .orderBy(col("source"))
  }
  private val t24Sql =
    s"""WITH counts AS (
       | SELECT source, COUNT(*) AS n_docs,
       |  CAST(FLOOR(POWER(CAST(COUNT(*) AS DOUBLE), $mixAlpha) * 1000000 + 0.5)
       |    AS BIGINT) AS wq
       | FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum,
       |         CAST(SUM(n_docs) AS BIGINT) AS ntot FROM counts)
       |SELECT source, n_docs,
       | CAST(CAST(n_docs AS DOUBLE) / ntot AS REAL) AS raw_share,
       | CAST(CAST(wq AS DOUBLE) / wsum AS REAL) AS alpha_share,
       | (wq * $mixBudget) // wsum AS target_docs,
       | CAST(CAST(wq * $mixBudget AS DOUBLE) / (wsum * n_docs) AS REAL)
       |   AS sample_factor
       |FROM counts CROSS JOIN tot ORDER BY source""".stripMargin

  // ---- t25: readability scoring (Flesch reading ease) ----------------------
  // The classic text-difficulty feature (quality filtering, audience
  // bucketing): 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
  // words). All three counts are EXACT integer string algebra shared
  // by both engines — words from the token split, sentences from the
  // period count (length-difference trick), syllables approximated by
  // VOWEL GROUPS (the standard heuristic: length delta between
  // replacing each [aeiou]+ run with one char vs none — RE2 and Java
  // regex agree on this pattern). Zero-guards via GREATEST(·, 1); the
  // formula is one fixed parenthesization, float32 at the end. Pure
  // per-row projection — zero shuffle.
  private def t25(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val words = "size(split(text, ' '))"
    val sents = "GREATEST(length(text) - length(replace(text, '.', '')), 1)"
    val syll = "GREATEST(length(regexp_replace(lower(text), '[aeiou]+', '#'))" +
      " - length(regexp_replace(lower(text), '[aeiou]+', '')), 1)"
    d.select(col("doc_id"),
        expr(words).cast("long").as("n_words"),
        expr(sents).cast("long").as("n_sentences"),
        expr(syll).cast("long").as("n_syllables"),
        expr(s"""CAST(206.835
            | - 1.015 * (CAST($words AS DOUBLE) / ($sents))
            | - 84.6 * (CAST($syll AS DOUBLE) / GREATEST($words, 1))
            | AS FLOAT)""".stripMargin).as("flesch"))
      .orderBy(col("doc_id"))
  }
  private val t25Sql = {
    val words = "len(string_split(text, ' '))"
    val sents = "GREATEST(length(text) - length(replace(text, '.', '')), 1)"
    val syll = "GREATEST(length(regexp_replace(lower(text), '[aeiou]+', '#', 'g'))" +
      " - length(regexp_replace(lower(text), '[aeiou]+', '', 'g')), 1)"
    s"""SELECT doc_id,
       | CAST($words AS BIGINT) AS n_words,
       | CAST($sents AS BIGINT) AS n_sentences,
       | CAST($syll AS BIGINT) AS n_syllables,
       | CAST(206.835
       |  - 1.015 * (CAST($words AS DOUBLE) / ($sents))
       |  - 84.6 * (CAST($syll AS DOUBLE) / GREATEST($words, 1))
       |  AS REAL) AS flesch
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- t31: T5-style span corruption --------------------------------------
  // Denoising-objective sample prep (Raffel et al., JMLR 2020 §3.1.4):
  // mask ~15% of tokens with a deterministic hash coin, merge adjacent
  // masked tokens into spans, replace each span in the INPUT with a
  // numbered sentinel, and emit the TARGET as sentinel-prefixed span
  // contents. Fully relational string surgery: tokenize+posexplode once
  // (the only corpus-sized stage), u12's gaps-and-islands for spans, and
  // ONE ordered-struct aggregation per (doc, side) whose sort key makes
  // the reassembly deterministic on both engines (Spark sort_array of
  // (k1, k2, piece) structs ≡ DuckDB string_agg ORDER BY k1, k2). The
  // hash coin is the Knuth mix over doc_id·131 + pos, so masking is
  // reproducible on any cluster layout.
  private val spanMaskPct = 15
  private def t31(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val toks = d
      .select(col("doc_id"),
        posexplode(expr("filter(split(text, ' '), t -> length(t) > 0)"))
          .as(Seq("pos", "tok")))
      .withColumn("masked",
        expr(s"((doc_id * 131 + pos) * 2654435761) % 100") < spanMaskPct)
      .localCheckpoint() // feeds spans, input pieces, target pieces
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = toks.filter(col("masked"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"))
      .withColumn("k", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("span_start"))) - 1)
      .select(col("doc_id"), col("span_start"),
        concat(lit("<extra_id_"), col("k"), lit(">")).as("sentinel"))
    val inputPieces = toks.filter(!col("masked"))
        .select(col("doc_id"), lit("i").as("side"), col("pos").as("k1"),
          lit(0).as("k2"), col("tok").as("piece"))
      .union(spans.select(col("doc_id"), lit("i").as("side"),
        col("span_start").as("k1"), lit(0).as("k2"), col("sentinel").as("piece")))
    val targetPieces = spans.select(col("doc_id"), lit("t").as("side"),
        col("span_start").as("k1"), lit(0).as("k2"), col("sentinel").as("piece"))
      .union(toks.filter(col("masked")).select(col("doc_id"), lit("t").as("side"),
        col("pos").as("k1"), lit(1).as("k2"), col("tok").as("piece")))
    val joined = inputPieces.union(targetPieces)
      .groupBy(col("doc_id"), col("side"))
      .agg(expr(
        "array_join(transform(sort_array(collect_list(struct(k1, k2, piece))), x -> x.piece), ' ')")
        .as("txt"))
    val stats = toks.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"))
    stats
      .join(joined.filter(col("side") === "i")
        .select(col("doc_id"), col("txt").as("input_text")), Seq("doc_id"), "left")
      .join(joined.filter(col("side") === "t")
        .select(col("doc_id"), col("txt").as("target_text")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_masked"),
        coalesce(col("input_text"), lit("")).as("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"))
      .orderBy(col("doc_id"))
  }
  private val t31Sql =
    s"""WITH lists AS (
       | SELECT doc_id, list_filter(string_split(text, ' '),
       |        t -> length(t) > 0) AS lst
       | FROM documents),
       |toks AS MATERIALIZED (
       | SELECT doc_id, i - 1 AS pos, lst[i] AS tok,
       |  ((doc_id * 131 + (i - 1)) * 2654435761) % 100 < $spanMaskPct AS masked
       | FROM lists, unnest(generate_series(1, len(lst))) AS t(i)),
       |spans AS MATERIALIZED (
       | SELECT doc_id, span_start,
       |  '<extra_id_' || CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY span_start) - 1 AS VARCHAR) || '>' AS sentinel
       | FROM (
       |  SELECT doc_id, MIN(pos) AS span_start
       |  FROM (SELECT doc_id, pos,
       |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |        FROM toks WHERE masked)
       |  GROUP BY doc_id, grp)),
       |pieces AS (
       | SELECT doc_id, 'i' AS side, pos AS k1, 0 AS k2, tok AS piece
       | FROM toks WHERE NOT masked
       | UNION ALL
       | SELECT doc_id, 'i', span_start, 0, sentinel FROM spans
       | UNION ALL
       | SELECT doc_id, 't', span_start, 0, sentinel FROM spans
       | UNION ALL
       | SELECT doc_id, 't', pos, 1, tok FROM toks WHERE masked),
       |joined AS (
       | SELECT doc_id, side, string_agg(piece, ' ' ORDER BY k1, k2) AS txt
       | FROM pieces GROUP BY 1, 2),
       |stats AS (
       | SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
       | FROM toks GROUP BY 1)
       |SELECT s.doc_id, s.n_tokens, s.n_masked,
       | COALESCE(i.txt, '') AS input_text,
       | COALESCE(t.txt, '') AS target_text
       |FROM stats s
       |LEFT JOIN joined i ON i.doc_id = s.doc_id AND i.side = 'i'
       |LEFT JOIN joined t ON t.doc_id = s.doc_id AND t.side = 't'
       |ORDER BY s.doc_id""".stripMargin

  // ---- t32: HTML boilerplate extraction ------------------------------------
  // Main-content extraction (the trafilatura/jusText step of web-corpus
  // curation): strip <head>, inline <script>s, <nav>/<aside>/<footer>
  // boilerplate blocks, then all residual markup, and report the main
  // text + markup-to-content ratio. Pure tag-aware string algebra —
  // regexp_replace chains, no parser dependency — so it stays inside
  // whole-stage codegen and costs one projection per doc at any scale.
  // The corpus is plain text, so the page is SYNTHESIZED first
  // (deterministic per-doc boilerplate from doc_id; both engines build
  // the identical string), which also makes the extraction fully
  // oracle-checkable: the recovered main text must equal the original
  // `text` verbatim, a stronger check than any similarity score.
  // Patterns are RE2-safe (no backreferences — one replace per block
  // tag) with inline (?s) dotall; DuckDB needs the explicit 'g' flag,
  // Spark's regexp_replace is global by default.
  private def t32(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><script>var t=\""), (col("doc_id") % 13).cast("string"),
      lit("\";track()</script></head><body><nav><a href=\"/\">home</a> <a href=\"/s"),
      (col("doc_id") % 7).cast("string"),
      lit("\">sec</a></nav><div class=\"main\"><p>"), col("text"),
      lit("</p><script>inline()</script></div><aside>related "),
      (col("doc_id") % 5).cast("string"),
      lit("</aside><footer>(c) corpus "), (col("doc_id") % 3).cast("string"),
      lit("</footer></body></html>"))
    val stripped = Seq("head", "script", "nav", "aside", "footer")
      .foldLeft(html) { (c, tag) =>
        regexp_replace(c, s"(?s)<$tag>.*?</$tag>", "")
      }
    val main = trim(regexp_replace(
      regexp_replace(stripped, "<[^>]*>", " "), " +", " "))
    d.select(col("doc_id"), col("text"), html.as("html"), main.as("main_text"))
      .select(col("doc_id"),
        length(col("html")).as("html_chars"),
        length(col("main_text")).as("main_chars"),
        (col("main_text") === col("text")).as("roundtrip_ok"),
        (length(col("main_text")).cast("double") /
          length(col("html"))).cast("float").as("content_ratio"),
        col("main_text"))
      .orderBy(col("doc_id"))
  }
  private val t32Sql = {
    val html =
      """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        | '</title><script>var t="' || CAST(doc_id % 13 AS VARCHAR) ||
        | '";track()</script></head><body><nav><a href="/">home</a> <a href="/s' ||
        | CAST(doc_id % 7 AS VARCHAR) ||
        | '">sec</a></nav><div class="main"><p>' || text ||
        | '</p><script>inline()</script></div><aside>related ' ||
        | CAST(doc_id % 5 AS VARCHAR) ||
        | '</aside><footer>(c) corpus ' || CAST(doc_id % 3 AS VARCHAR) ||
        | '</footer></body></html>'""".stripMargin.replace("\n", "")
    val stripped = Seq("head", "script", "nav", "aside", "footer")
      .foldLeft("html") { (c, tag) =>
        s"regexp_replace($c, '(?s)<$tag>.*?</$tag>', '', 'g')"
      }
    s"""WITH pages AS (SELECT doc_id, text, $html AS html FROM documents),
       |ext AS (
       | SELECT doc_id, text, html,
       |  TRIM(regexp_replace(regexp_replace($stripped,
       |    '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')) AS main_text
       | FROM pages)
       |SELECT doc_id, LENGTH(html) AS html_chars,
       | LENGTH(main_text) AS main_chars,
       | main_text = text AS roundtrip_ok,
       | CAST(CAST(LENGTH(main_text) AS DOUBLE) / LENGTH(html) AS REAL) AS content_ratio,
       | main_text
       |FROM ext ORDER BY doc_id""".stripMargin
  }

  // ---- t33: Gopher repetition filters (character-coverage forms) -----------
  // The two MassiveText repetition signals t10 does not cover (Rae et
  // al. 2021, "Scaling Language Models", table A1): the fraction of
  // characters inside the MOST FREQUENT word-2-gram, and the fraction
  // of characters covered by word-5-grams that occur >= 2 times in the
  // document. The coverage form needs a positional INTERVAL UNION (a
  // duplicated gram at position p covers tokens [p, p+4]; overlapping
  // spans must not double-count), done with the standard running-max
  // island merge — every window partitions BY DOC, bounded by document
  // length. Thresholds are Gopher's (0.20 / 0.15). Char counts are
  // token characters (the corpus' single-space joins carry no signal);
  // gram length includes its joining spaces — one definition, both
  // engines.
  private def posGrams(d: DataFrame, n: Int): DataFrame = {
    // d carries the pre-split token array `lst` — gram build is array
    // algebra only, the regex split runs once per doc (t33 derives
    // three gram widths from one checkpointed split)
    val gs = expr(
      s"""CASE WHEN size(lst) >= $n
         | THEN transform(sequence(1, size(lst) - ${n - 1}),
         |   i -> array_join(slice(lst, i, $n), ' '))
         | ELSE CAST(array() AS array<string>) END""".stripMargin)
    d.select(col("doc_id"), posexplode(gs).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("g"))
  }
  private def t33(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), split(col("text"), " ").as("lst"))
      .localCheckpoint() // ONE split; feeds tokens + both gram widths
    val toks = d.select(col("doc_id"),
        posexplode(col("lst")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
      .localCheckpoint() // feeds totals AND the coverage join
    val totals = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).as("total_chars"))
    // most-frequent 2-gram: count desc, gram asc tie-break
    val w2 = Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("g").asc)
    val top2 = posGrams(d, 2)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w2)).filter(col("rk") === 1)
      .select(col("doc_id"),
        (col("cnt") * length(col("g"))).as("top2_chars"))
    // duplicated-5-gram coverage: interval union via running-max merge
    val wg = Window.partitionBy(col("doc_id"), col("g"))
    val hits = posGrams(d, 5)
      .withColumn("cnt", count(lit(1)).over(wg))
      .filter(col("cnt") >= 2)
      .select(col("doc_id"), col("pos"), (col("pos") + 4).as("pend"))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = hits
      .withColumn("prev_end",
        max(col("pend")).over(wp.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newi",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("newi")).over(
        wp.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pend")).as("e"))
    val covered = islands.join(toks, Seq("doc_id"))
      .filter(col("pos").between(col("s"), col("e")))
      .groupBy(col("doc_id"))
      .agg(sum(length(col("tok"))).as("dup5_chars"))
    totals
      .join(top2, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("total_chars"),
        coalesce((col("top2_chars").cast("double") / col("total_chars"))
          .cast("float"), lit(0.0f)).as("top2_frac"),
        coalesce((col("dup5_chars").cast("double") / col("total_chars"))
          .cast("float"), lit(0.0f)).as("dup5_cov_frac"),
        (coalesce(col("top2_chars").cast("double") / col("total_chars"),
          lit(0.0)) <= 0.20 &&
          coalesce(col("dup5_chars").cast("double") / col("total_chars"),
            lit(0.0)) <= 0.15).as("keep"))
      .orderBy(col("doc_id"))
  }
  private val t33Sql =
    """WITH toks AS MATERIALIZED (
      | SELECT doc_id, i AS pos, lst[i] AS tok
      | FROM (SELECT doc_id, string_split(text, ' ') AS lst FROM documents),
      |  unnest(generate_series(1, len(lst))) AS t(i)),
      |totals AS (
      | SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(LENGTH(tok)) AS BIGINT) AS total_chars
      | FROM toks GROUP BY 1),
      |g2 AS (
      | SELECT doc_id, i AS pos, array_to_string(lst[i:i+1], ' ') AS g
      | FROM (SELECT doc_id, string_split(text, ' ') AS lst FROM documents),
      |  unnest(generate_series(1, len(lst) - 1)) AS t(i)
      | WHERE len(lst) >= 2),
      |top2 AS (
      | SELECT doc_id, CAST(cnt * LENGTH(g) AS BIGINT) AS top2_chars
      | FROM (
      |  SELECT doc_id, g, COUNT(*) AS cnt,
      |   ROW_NUMBER() OVER (PARTITION BY doc_id
      |     ORDER BY COUNT(*) DESC, g ASC) AS rk
      |  FROM g2 GROUP BY 1, 2)
      | WHERE rk = 1),
      |g5 AS (
      | SELECT doc_id, i AS pos, array_to_string(lst[i:i+4], ' ') AS g
      | FROM (SELECT doc_id, string_split(text, ' ') AS lst FROM documents),
      |  unnest(generate_series(1, len(lst) - 4)) AS t(i)
      | WHERE len(lst) >= 5),
      |hits AS (
      | SELECT doc_id, pos, pos + 4 AS pend
      | FROM (SELECT doc_id, pos,
      |        COUNT(*) OVER (PARTITION BY doc_id, g) AS cnt FROM g5)
      | WHERE cnt >= 2),
      |marked AS (
      | SELECT doc_id, pos, pend,
      |  CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS newi
      | FROM (SELECT doc_id, pos, pend,
      |        MAX(pend) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |       FROM hits)),
      |islands AS (
      | SELECT doc_id, island, MIN(pos) AS s, MAX(pend) AS e
      | FROM (SELECT doc_id, pos, pend,
      |        SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |       FROM marked)
      | GROUP BY 1, 2),
      |covered AS (
      | SELECT i.doc_id, CAST(SUM(LENGTH(t.tok)) AS BIGINT) AS dup5_chars
      | FROM islands i JOIN toks t
      |  ON t.doc_id = i.doc_id AND t.pos BETWEEN i.s AND i.e
      | GROUP BY 1)
      |SELECT tt.doc_id, tt.n_tokens, tt.total_chars,
      | CAST(COALESCE(CAST(top2_chars AS DOUBLE) / total_chars, 0.0) AS REAL) AS top2_frac,
      | CAST(COALESCE(CAST(dup5_chars AS DOUBLE) / total_chars, 0.0) AS REAL) AS dup5_cov_frac,
      | (COALESCE(CAST(top2_chars AS DOUBLE) / total_chars, 0.0) <= 0.20 AND
      |  COALESCE(CAST(dup5_chars AS DOUBLE) / total_chars, 0.0) <= 0.15) AS keep
      |FROM totals tt
      |LEFT JOIN top2 USING (doc_id)
      |LEFT JOIN covered USING (doc_id)
      |ORDER BY tt.doc_id""".stripMargin

  // ---- t34: weighted reservoir sample (Efraimidis-Spirakis A-Res) ----------
  // THE distributed weighted-sampling primitive of data-mixing
  // pipelines: sampling k documents without replacement with
  // probability proportional to weight = rank the corpus by
  // u_i^(1/w_i) (equivalently ln(u_i)/w_i) and keep the top k — a
  // one-pass, merge-friendly reduction (Efraimidis & Spirakis 2006).
  // Uniforms are the suite's seeded multiplicative-hash convention
  // (t13/t23), so the sample is REPRODUCIBLE and oracle-checkable. The
  // ln-key is quantized at 1e-15 (keys live in (-0.3, 0)) so a last-ulp
  // libm-vs-JVM ln() difference can never flip the cross-engine
  // ordering; doc_id breaks exact ties. Plan shape: pure projection +
  // TakeOrdered (per-partition k-heaps merged on the driver) — no
  // corpus-wide sort, no shuffle beyond k rows per partition.
  private val resK = 50
  private val resUSql =
    "((CAST((doc_id * 2654435761) % 1000000 AS DOUBLE) + 0.5) / 1000000.0)"
  private val resKeySql =
    s"CAST(FLOOR(LN($resUSql) / CAST(n_chars AS DOUBLE) * 1e15) AS BIGINT)"
  private def t34(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val ranked = d.select(col("doc_id"), col("n_chars"),
        expr(resKeySql).as("key_q"))
      .orderBy(col("key_q").desc, col("doc_id").asc)
      .limit(resK)
    val w = Window.orderBy(col("key_q").desc, col("doc_id").asc)
    ranked.withColumn("rank", row_number().over(w)) // 50-row bounded input
      .select(col("rank"), col("doc_id"), col("n_chars"), col("key_q"))
      .orderBy(col("rank"))
  }
  private val t34Sql =
    s"""SELECT ROW_NUMBER() OVER (ORDER BY key_q DESC, doc_id ASC) AS rank,
       | doc_id, n_chars, key_q
       |FROM (
       | SELECT doc_id, n_chars, $resKeySql AS key_q
       | FROM documents)
       |ORDER BY key_q DESC, doc_id ASC LIMIT $resK""".stripMargin

  // ---- t36: Heaps'-law vocabulary-growth fit --------------------------------
  // The scaling-curve measurement a corpus-planning pipeline runs before
  // committing to a data mix: vocabulary size (word-TRIGRAM types —
  // the synthetic corpus has a fixed 31-word lexicon, so unigram types
  // saturate immediately; trigrams are combinatorial) as a function of
  // corpus size over NESTED subsets, fitted to Heaps' law V(N) = K·N^β
  // (Heaps 1978; the token-level cousin of the Kaplan scaling-law fit).
  // Nested subsets come from a deterministic LCG hash bucket per doc
  // (h ∈ 0..99, subset f = docs with h < f for f = 10, 20, …, 100), so
  // every subset is a strict superset of the previous — the curve is
  // monotone by construction.
  //
  // Scale design: the corpus is scanned ONCE. Per token the aggregation
  // keeps min(bucket) — the first subset where the type appears — and
  // per bucket the token total; vocab at f is then a ≤100-row
  // cumulative fold, N_f likewise. The OLS of ln V on ln N runs over
  // the 10-point curve with per-point ln values micro-quantized to
  // LONGS and all five regression sums folded in exact integer space —
  // the t15/m24 discipline, so the fitted (K, β) is bit-identical on
  // both engines. No collect anywhere; the fit is a broadcast 1-row
  // aggregate joined back onto the curve.
  private def t36(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val toks = d.select(
      expr("CAST((doc_id * 1103515245 + 12345) % 100 AS BIGINT)").as("h"),
      expr("filter(split(text, ' '), tk -> length(tk) > 0)").as("tl"))
      // the TYPE is a word TRIGRAM: the corpus draws from a fixed
      // 31-word vocabulary, so word-level Heaps saturates at f=10;
      // trigram types are combinatorial and grow for real
      .select(col("h"), expr(
        "transform(sequence(1, greatest(size(tl) - 2, 0)), " +
          "i -> concat_ws(' ', element_at(tl, i), element_at(tl, i + 1), " +
          "element_at(tl, i + 2)))").as("tl"))
      .localCheckpoint() // feeds token totals AND the type min-bucket
    val perBucketTok = toks.groupBy(col("h"))
      .agg(org.apache.spark.sql.functions.sum(size(col("tl"))).cast("long")
        .as("toks_b"))
    val typeMin = toks.select(col("h"), explode(col("tl")).as("tk"))
      .groupBy(col("tk")).agg(min(col("h")).as("mb"))
      .groupBy(col("mb")).agg(count(lit(1)).as("new_types"))
    val fracs = toks.sparkSession.range(1, 11)
      .select((col("id") * 10).as("f"))
    val curve = fracs
      .join(perBucketTok, col("h") < col("f"))
      .groupBy(col("f"))
      .agg(org.apache.spark.sql.functions.sum(col("toks_b")).as("n_tokens"))
      .join(fracs.join(typeMin, col("mb") < col("f"))
        .groupBy(col("f"))
        .agg(org.apache.spark.sql.functions.sum(col("new_types")).as("vocab")),
        Seq("f"))
      .withColumn("lnn_q",
        expr("CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"))
      .withColumn("lnv_q",
        expr("CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"))
      .localCheckpoint() // 10 rows; feeds the OLS fold AND the output
    val fit = curve.agg(
      count(lit(1)).as("n"),
      org.apache.spark.sql.functions.sum(col("lnn_q")).as("sx"),
      org.apache.spark.sql.functions.sum(col("lnv_q")).as("sy"),
      org.apache.spark.sql.functions.sum(col("lnn_q") * col("lnn_q")).as("sxx"),
      org.apache.spark.sql.functions.sum(col("lnn_q") * col("lnv_q")).as("sxy"))
      .select(
        expr("CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)")
          .as("beta"),
        col("n"), col("sx"), col("sy"))
      .select(col("beta"),
        expr("exp((CAST(sy AS DOUBLE) / 1e6 - beta * CAST(sx AS DOUBLE) / 1e6) / n)")
          .as("k"))
    curve.crossJoin(broadcast(fit))
      .select(col("f"), col("n_tokens"), col("vocab"),
        col("beta").cast("float").as("beta"),
        col("k").cast("float").as("k"))
      .orderBy(col("f"))
  }
  private val t36Sql =
    """WITH toks AS (
      | SELECT CAST((doc_id * 1103515245 + 12345) % 100 AS BIGINT) AS h,
      |  list_transform(generate_series(1, greatest(len(w) - 2, 0)),
      |   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS tl
      | FROM (SELECT doc_id,
      |        list_filter(string_split(text, ' '), tk -> length(tk) > 0) AS w
      |       FROM documents)),
      |pbt AS (
      | SELECT h, CAST(SUM(len(tl)) AS BIGINT) AS toks_b FROM toks GROUP BY 1),
      |tmin AS (
      | SELECT mb, COUNT(*) AS new_types FROM (
      |  SELECT tk, MIN(h) AS mb
      |  FROM (SELECT h, unnest(tl) AS tk FROM toks) GROUP BY 1)
      | GROUP BY 1),
      |fracs AS (SELECT f FROM (VALUES (10), (20), (30), (40), (50),
      |  (60), (70), (80), (90), (100)) AS t(f)),
      |curve AS (
      | SELECT nf.f, nf.n_tokens, vf.vocab,
      |  CAST(floor(ln(CAST(nf.n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lnn_q,
      |  CAST(floor(ln(CAST(vf.vocab AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lnv_q
      | FROM
      |  (SELECT f, CAST(SUM(toks_b) AS BIGINT) AS n_tokens
      |   FROM fracs JOIN pbt ON pbt.h < fracs.f GROUP BY 1) nf
      | JOIN
      |  (SELECT f, CAST(SUM(new_types) AS BIGINT) AS vocab
      |   FROM fracs JOIN tmin ON tmin.mb < fracs.f GROUP BY 1) vf
      | USING (f)),
      |fit0 AS (
      | SELECT COUNT(*) AS n, SUM(lnn_q) AS sx, SUM(lnv_q) AS sy,
      |  SUM(lnn_q * lnn_q) AS sxx, SUM(lnn_q * lnv_q) AS sxy
      | FROM curve),
      |fit AS (
      | SELECT CAST(n * sxy - sx * sy AS DOUBLE)
      |         / CAST(n * sxx - sx * sx AS DOUBLE) AS beta, n, sx, sy
      | FROM fit0),
      |fit2 AS (
      | SELECT beta,
      |  exp((CAST(sy AS DOUBLE) / 1e6 - beta * CAST(sx AS DOUBLE) / 1e6) / n) AS k
      | FROM fit)
      |SELECT c.f, c.n_tokens, c.vocab,
      | CAST(ft.beta AS REAL) AS beta, CAST(ft.k AS REAL) AS k
      |FROM curve c CROSS JOIN fit2 ft ORDER BY c.f""".stripMargin

  // ---- t39: multinomial naive Bayes with confusion matrix ------------------
  // The canonical distributed text classifier (multinomial NB, Manning
  // IR ch. 13) trained and evaluated in one query: fit per-language
  // token log-likelihoods with Laplace smoothing on the even-doc_id
  // half, score the odd-doc_id half as log-prior + sum of per-token
  // log-likelihoods, argmax, and emit the (true, predicted) confusion
  // matrix with per-cell counts and the overall accuracy. Everything
  // cross-engine-exact: log-likelihoods and priors micro-quantize at
  // fit time, so document scores are integer sums and the argmax
  // (score desc, lang asc) can never float-flip. Out-of-vocabulary
  // test tokens are ignored (inner join against the trained grid) —
  // the standard practical choice, deterministic on both engines.
  //
  // Scale: the model IS a (vocab x 5)-row broadcast grid; scoring is
  // one token explode inner-joined against it plus a (doc, lang)
  // groupBy — the same inverted-index shape as t18/w01, nothing
  // corpus x corpus. Trained on a word-soup corpus whose lang label is
  // independent of the text, NB collapses to the prior — the
  // confusion matrix SHOWS that honestly (majority-class column), and
  // the spec pins exactly that behavior.
  private def t39(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val train = d.filter(col("doc_id") % 2 === 0)
    val toksOf = (df: DataFrame) => df.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val counts = toksOf(train).groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
    val langTot = counts.groupBy(col("lang"))
      .agg(org.apache.spark.sql.functions.sum(col("c")).as("n_lang"))
    val vocab = counts.select(col("term")).distinct()
    val vSize = counts.agg(countDistinct(col("term")).as("v"))
    val grid = vocab.crossJoin(langTot).crossJoin(broadcast(vSize))
      .join(counts, Seq("lang", "term"), "left")
      .select(col("lang"), col("term"),
        expr("""CAST(floor(ln((coalesce(c, 0) + 1.0) / (n_lang + v)) * 1e6
               | + 0.5) AS BIGINT)""".stripMargin).as("llq"))
    val nDocs = train.agg(count(lit(1)).as("n_docs"))
    val prior = train.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      .crossJoin(broadcast(nDocs))
      .select(col("lang"),
        expr("CAST(floor(ln(CAST(n_l AS DOUBLE) / n_docs) * 1e6 + 0.5) AS BIGINT)")
          .as("prq"))
    val test = d.filter(col("doc_id") % 2 === 1)
    val scores = toksOf(test)
      .select(col("doc_id"), col("lang").as("true_lang"), col("term"))
      .join(broadcast(grid.select(col("lang").as("cand"), col("term"),
        col("llq"))), Seq("term"))
      .groupBy(col("doc_id"), col("true_lang"), col("cand"))
      .agg(org.apache.spark.sql.functions.sum(col("llq")).as("ll"))
      .join(broadcast(prior.select(col("lang").as("cand"), col("prq"))),
        Seq("cand"))
      .withColumn("score", col("ll") + col("prq"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand").asc)
    val preds = scores.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("true_lang"), col("cand").as("pred_lang"))
    val tot = preds.agg(count(lit(1)).as("n_test"),
      org.apache.spark.sql.functions.sum(
        when(col("true_lang") === col("pred_lang"), 1L).otherwise(0L))
        .as("n_correct"))
    preds.groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("true_lang"), col("pred_lang"), col("n"), col("n_test"),
        expr("CAST(CAST(n_correct AS DOUBLE) / n_test AS FLOAT)")
          .as("accuracy"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }
  private val t39Sql =
    """WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      |ttok AS (
      | SELECT doc_id, lang, term FROM (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      |  FROM train) WHERE length(term) > 0),
      |counts AS (SELECT lang, term, COUNT(*) AS c FROM ttok GROUP BY 1, 2),
      |lang_tot AS (
      | SELECT lang, CAST(SUM(c) AS BIGINT) AS n_lang FROM counts GROUP BY 1),
      |vocab AS (SELECT DISTINCT term FROM counts),
      |vs AS (SELECT COUNT(DISTINCT term) AS v FROM counts),
      |grid AS (
      | SELECT lt.lang, vo.term,
      |  CAST(floor(ln((COALESCE(c.c, 0) + 1.0) / (lt.n_lang + vs.v)) * 1e6
      |   + 0.5) AS BIGINT) AS llq
      | FROM vocab vo CROSS JOIN lang_tot lt CROSS JOIN vs
      | LEFT JOIN counts c ON c.lang = lt.lang AND c.term = vo.term),
      |nd AS (SELECT COUNT(*) AS n_docs FROM train),
      |prior AS (
      | SELECT lang,
      |  CAST(floor(ln(CAST(COUNT(*) AS DOUBLE) / (SELECT n_docs FROM nd))
      |   * 1e6 + 0.5) AS BIGINT) AS prq
      | FROM train GROUP BY 1),
      |stok AS (
      | SELECT doc_id, lang AS true_lang, term FROM (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE doc_id % 2 = 1) WHERE length(term) > 0),
      |scores AS (
      | SELECT s.doc_id, s.true_lang, g.lang AS cand,
      |  CAST(SUM(g.llq) AS BIGINT) + MIN(p.prq) AS score
      | FROM stok s JOIN grid g USING (term)
      | JOIN prior p ON p.lang = g.lang
      | GROUP BY 1, 2, 3),
      |preds AS (
      | SELECT doc_id, true_lang, cand AS pred_lang FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, cand ASC) AS rnk
      |  FROM scores) WHERE rnk = 1),
      |tot AS (
      | SELECT COUNT(*) AS n_test,
      |  CAST(SUM(CASE WHEN true_lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_correct
      | FROM preds)
      |SELECT true_lang, pred_lang, COUNT(*) AS n, tot.n_test,
      | CAST(CAST(tot.n_correct AS DOUBLE) / tot.n_test AS REAL) AS accuracy
      |FROM preds CROSS JOIN tot
      |GROUP BY 1, 2, tot.n_test, tot.n_correct
      |ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t39_nb_confusion" -> (t39 _),
    "t36_heaps_law" -> (t36 _),
    "t37_tokenizer_fertility" -> (t37 _),
    "t34_weighted_sample" -> (t34 _),
    "t33_gopher_coverage" -> (t33 _),
    "t32_html_extract" -> (t32 _),
    "t25_readability" -> (t25 _),
    "t24_temperature_mixture" -> (t24 _),
    "t23_epoch_shuffle" -> (t23 _),
    "t22_zipf_fit" -> (t22 _),
    "t20_vocab_coverage" -> (t20 _),
    "t19_quality_gate" -> (t19 _),
    "t17_bpe_pairs" -> (t17 _),
    "t26_bpe_encode" -> (t26 _),
    "t18_tfidf_topk" -> (t18 _),
    "t12_chunk_overlap" -> (t12 _),
    "t11_sequence_pack" -> (t11 _),
    "t10_repetition" -> (t10 _),
    "t09_data_mixture" -> (t09 _),
    "t08_entity_redact" -> (t08 _),
    "d08_keep_best" -> (d08 _),
    "t31_span_corruption" -> (t31 _),
    "t01_token_count" -> (t01 _),
    "t02_quality_score" -> (t02 _),
    "t03_lang_id" -> (t03 _),
    "t04_fingerprint" -> (t04 _),
    "t05_shingles" -> (t05 _),
    "t06_json_extract" -> (t06 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "t39_nb_confusion" -> t39Sql,
    "t36_heaps_law" -> t36Sql,
    "t37_tokenizer_fertility" -> t37Sql,
    "t34_weighted_sample" -> t34Sql,
    "t33_gopher_coverage" -> t33Sql,
    "t32_html_extract" -> t32Sql,
    "t25_readability" -> t25Sql,
    "t24_temperature_mixture" -> t24Sql,
    "t23_epoch_shuffle" -> t23Sql,
    "t22_zipf_fit" -> t22Sql,
    "t20_vocab_coverage" -> t20Sql,
    "t19_quality_gate" -> t19Sql,
    "t17_bpe_pairs" -> t17Sql,
    "t26_bpe_encode" -> t26Sql,
    "t18_tfidf_topk" -> t18Sql,
    "t12_chunk_overlap" -> t12Sql,
    "t11_sequence_pack" -> t11Sql,
    "t10_repetition" -> t10Sql,
    "t09_data_mixture" -> t09Sql,
    "t08_entity_redact" -> t08Sql,
    "d08_keep_best" -> d08Sql,
    "t31_span_corruption" -> t31Sql,
    "t01_token_count" -> t01Sql,
    "t02_quality_score" -> t02Sql,
    "t03_lang_id" -> t03Sql,
    "t04_fingerprint" -> t04Sql,
    "t05_shingles" -> t05Sql,
    "t06_json_extract" -> t06Sql
  ).view
}
