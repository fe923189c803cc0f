package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftSession
import org.apache.spark.sql.functions._

/** Deterministic synthetic-table generator for scale rehearsals beyond
  * the driver-shipped sf0.1 (`TESTDATA.md` caps there; the 100-TB claim
  * needs at least one measured decade above it — round-10 verdict item
  * 1). Emits the same ten-table star schema with the same
  * key-cardinality ratios, fanouts, and value distributions as the
  * driver data, parameterized by absolute scale factor:
  * `lineitem = 6M·sf` rows, ~30 distinct suppliers/part (the co-supply
  * graph's degree), Exp(50) event values (P(v<8) ≈ 0.148 feeds g13's
  * edge density), a 31-word document vocabulary at 10–100 words/doc
  * with a ~0.2 % exact-duplicate rate, 64-dim N(0, 0.12²) embeddings.
  *
  * All randomness is `xxhash64(id, salt)`-derived — fully distributed,
  * no driver-side rows, reproducible for any partitioning. NOT a
  * replacement for the driver's data (hashes differ); exponent
  * measurements must compare THIS generator's sf0.1 output against its
  * own sf1 output, with the driver-sf0.1 timings as the sanity anchor.
  *
  * Usage: `GenSf <outDir> <sf>` e.g. `GenSf .tmp/gensf/sf1 1.0`.
  */
object GenSf {

  /** Uniform double in [0, 1) keyed by (id-expression, salt). */
  private def u(idCol: String, salt: Int): String =
    s"(pmod(xxhash64($idCol, $salt), 1000000000) / 1e9)"

  /** Uniform in (0, 1] — safe for ln(). */
  private def uPos(idCol: String, salt: Int): String =
    s"((pmod(xxhash64($idCol, $salt), 999999999) + 1) / 1e9)"

  private def pick(idCol: String, salt: Int, vals: Seq[String]): String =
    s"element_at(array(${vals.map(v => s"'$v'").mkString(",")}), " +
      s"CAST(pmod(xxhash64($idCol, $salt), ${vals.size}) AS INT) + 1)"

  /** Weighted categorical via stacked thresholds on one uniform. */
  private def pickW(idCol: String, salt: Int,
      vals: Seq[(String, Double)]): String = {
    val uu = u(idCol, salt)
    val cum = vals.scanLeft(0.0)(_ + _._2).tail
    val cases = vals.zip(cum).dropRight(1)
      .map { case ((v, _), c) => s"WHEN $uu < $c THEN '$v'" }
      .mkString(" ")
    s"(CASE $cases ELSE '${vals.last._1}' END)"
  }

  private val docVocab = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  // extension words are 8 pseudorandom LETTERS, not zero-padded
  // numerals: the d-family shingles are character 5-grams, so synthetic
  // words must be character-diverse or the 5-gram space stays as
  // degenerate as the 31-word corpus it is meant to contrast with
  private def synthWord(i: Int): String = {
    var h = i.toLong * 0x9E3779B97F4A7C15L
    (0 until 8).map { _ =>
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      ('a' + java.lang.Long.remainderUnsigned(h, 26L).toInt).toChar
    }.mkString
  }

  /** Vocabulary of the given size: the 31 driver words, extended with
    * deterministic synthetic 8-letter words past 31. */
  def vocabOf(size: Int): Seq[String] =
    if (size <= docVocab.size) docVocab.take(size)
    else docVocab ++ (docVocab.size until size).map(synthWord)

  /** The documents corpus as a DataFrame — same generator main() writes,
    * exposed so specs can build corpora of any (size, vocabulary)
    * in-memory (e.g. the d02 candidate-budget guard's 31-word-vs-4096-
    * word A/B) without writing the whole star schema to disk.
    *
    * `tokenZipf` (round-13 verdict stretch #8): 0.0 = iid-UNIFORM word
    * draws (the default, every committed gate's corpus). > 0.0 = ZIPF
    * token frequencies via the log-uniform inverse-CDF — word rank
    * r = floor(V^u) gives P(r) ∝ 1/r exactly (Zipf s = 1), the shape a
    * real text corpus has: a stop-word head that every document shares
    * and a long rare tail. This is the d-family's analogue of the graph
    * zipf mode — it lets the d02/d07 candidate bills and the LSH band
    * mass be measured under realistic vocabulary skew instead of only
    * on uniform draws (hub_rehearsal discipline, applied to text). */
  def documentsDf(spark: SparkSession, nDocs: Long,
      vocab: Seq[String], tokenZipf: Double = 0.0): DataFrame = {
    val vocabSql = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val v = vocab.size
    val wordIdx =
      if (tokenZipf == 0.0)
        s"CAST(pmod(xxhash64(base_id * 128 + i, 83), $v) AS INT) + 1"
      else
        // rank = floor(V^(u^a)); a = 1 is pure Zipf-1, a > 1 skews the
        // head harder (more stop-word mass). least() guards u -> 1.
        s"least(CAST(floor(pow($v, pow(${u("base_id * 128 + i", 83)}, " +
          s"$tokenZipf))) AS INT), $v)"
    spark.range(nDocs)
      .withColumn("base_id", expr(
        s"CASE WHEN id % 2 = 1 AND ${u("id", 81)} < 0.004 THEN id - 1 ELSE id END"))
      .withColumn("nw", expr(s"CAST(10 + pmod(xxhash64(base_id, 82), 91) AS INT)"))
      .withColumn("text", expr(
        s"array_join(transform(sequence(1, nw), i -> element_at($vocabSql, $wordIdx)), ' ')"))
      .selectExpr("id AS doc_id", "text",
        pickW("id", 84, Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15,
          "fr" -> 0.15, "de" -> 0.14)) + " AS lang",
        "concat('src', CAST(id % 20 AS INT)) AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: GenSf <outDir> <sf> [vocabSize] [uniform|zipf[:a]] " +
        "[tokens:uniform|tokens:zipf[:a]]")
    val out = args(0)
    val sf = args(1).toDouble
    // optional third arg: document vocabulary size. The driver corpus
    // fixes 31 words at every scale factor, which makes the expected
    // Jaccard of a RANDOM doc pair ~1% — so every similarity gate on
    // it is Θ(docs²) by corpus construction, not by engine design. A
    // realistic vocab (thousands of words) drives random-pair overlap
    // toward zero and restores the near-linear candidate scaling; the
    // round-11 PLANS.md A/B measures both.
    val vocabSize = if (args.length >= 3) args(2).toInt else docVocab.size
    val vocab: Seq[String] = vocabOf(vocabSize)
    // optional fourth arg: degree mode for the fact-table foreign keys.
    // The default draws l_suppkey/l_partkey uniformly, which makes
    // every co-supply degree ~equal — the wedge queries' HUB branches
    // (g15 grid-salting at p(w) > 1, g06 above-cap shuffle closure)
    // never fire on it (round-12 verdict ask #2). `zipf[:a]` draws both
    // keys as floor(N * u^a) — density ∝ k^(1/a − 1), a Zipf-like head
    // at small ids whose top suppliers touch a large fraction of all
    // parts, producing the power-law co-supply degrees a real 100-TB
    // corpus contains. a defaults to 2.0 (top-supplier popularity share
    // ≈ N^(−1/2)); the exponent is a knob because hub-regime rehearsal
    // wants "a few nodes over √wedgeBudget", not a hub-clique collapse.
    val degreeMode = if (args.length >= 4) args(3) else "uniform"
    val zipfA: Double = degreeMode.split(':') match {
      case Array("uniform") => 0.0
      case Array("zipf") => 2.0
      case Array("zipf", a) => a.toDouble
      case _ => throw new IllegalArgumentException(
        s"degree mode '$degreeMode' — want uniform | zipf[:a]")
    }
    // optional fifth arg: token-frequency mode for the documents corpus
    // (round-13 verdict stretch #8) — `tokens:zipf[:a]` draws words with
    // P(rank r) ∝ 1/r^~1 (see documentsDf), so the d-family's guards and
    // band mass get measured under realistic vocabulary skew.
    val tokenMode = if (args.length >= 5) args(4) else "tokens:uniform"
    val tokenZipf: Double = tokenMode.split(':') match {
      case Array("tokens", "uniform") => 0.0
      case Array("tokens", "zipf") => 1.0
      case Array("tokens", "zipf", a) => a.toDouble
      case _ => throw new IllegalArgumentException(
        s"token mode '$tokenMode' — want tokens:uniform | tokens:zipf[:a]")
    }
    /** Foreign-key draw: uniform pmod, or the zipf power-map. */
    def fk(idCol: String, salt: Int, n: Long): String =
      if (zipfA == 0.0) s"CAST(pmod(xxhash64($idCol, $salt), $n) AS BIGINT)"
      else s"CAST(floor($n * pow(${u(idCol, salt)}, $zipfA)) AS BIGINT)"
    val spark = GraftSession.mainSession(GraftSession.mainCores("graft.tools.GenSf"), "WARN")

    val nLineitem = math.round(6000000L * sf).max(1000)
    val nOrders = math.round(1500000L * sf).max(250)
    val nCustomer = math.round(150000L * sf).max(25).toInt
    val nSupplier = math.round(10000L * sf).max(5).toInt
    val nPart = math.round(200000L * sf).max(50).toInt
    val nEvents = math.round(1000000L * sf).max(500)
    val nDocs = math.round(50000L * sf).max(500)
    val nEmb = math.round(20000L * sf).max(500)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gensf] $name written")
    }

    write(spark.range(5).selectExpr("CAST(id AS BIGINT) AS r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), CAST(id AS INT) + 1) AS r_name"),
      "region")

    write(spark.range(25).selectExpr("CAST(id AS BIGINT) AS n_nationkey",
      "concat('Nation#', id) AS n_name",
      "CAST(pmod(xxhash64(id, 1), 5) AS BIGINT) AS n_regionkey"),
      "nation")

    write(spark.range(nSupplier).selectExpr(
      "id AS s_suppkey",
      "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
      "CAST(pmod(xxhash64(id, 11), 25) AS BIGINT) AS s_nationkey",
      s"round(${u("id", 12)} * 11000.0 - 1000.0, 2) AS s_acctbal"),
      "supplier")

    write(spark.range(nCustomer).selectExpr(
      "id AS c_custkey",
      "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      "CAST(pmod(xxhash64(id, 21), 25) AS BIGINT) AS c_nationkey",
      s"round(${u("id", 22)} * 11000.0 - 1000.0, 2) AS c_acctbal",
      pick("id", 23, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")) + " AS c_mktsegment"),
      "customer")

    write(spark.range(nPart).selectExpr(
      "id AS p_partkey",
      "concat(" + pick("id", 31, Seq("large", "hot", "blue", "red",
        "green", "small", "cold", "dark", "light", "shiny")) + ", ' ', " +
        pick("id", 32, Seq("ring", "bolt", "screw", "nut", "washer",
          "gear", "cog", "pin", "rod", "cap")) + ") AS p_name",
      "concat('Brand#', CAST(pmod(xxhash64(id, 33), 25) + 1 AS INT)) AS p_brand",
      pick("id", 34, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")) + " AS p_type",
      "CAST(pmod(xxhash64(id, 35), 50) + 1 AS INT) AS p_size",
      "round(900.0 + pmod(id, 1000) / 10.0, 1) AS p_retailprice"),
      "part")

    write(spark.range(nOrders).selectExpr(
      "id AS o_orderkey",
      s"CAST(pmod(xxhash64(id, 41), $nCustomer) AS BIGINT) AS o_custkey",
      pick("id", 42, Seq("F", "O", "P")) + " AS o_orderstatus",
      s"round(1000.0 + ${u("id", 43)} * 499000.0, 2) AS o_totalprice",
      s"timestamp'1995-01-01 00:00:00' + make_interval(0, 0, 0, CAST(${u("id", 44)} * 2405 AS INT), 0, 0, 0) AS o_orderdate",
      pick("id", 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")) + " AS o_orderpriority"),
      "orders")

    write(spark.range(nLineitem).selectExpr(
      s"CAST(pmod(xxhash64(id, 51), $nOrders) AS BIGINT) AS l_orderkey",
      fk("id", 52, nPart) + " AS l_partkey",
      fk("id", 53, nSupplier) + " AS l_suppkey",
      "CAST(pmod(xxhash64(id, 54), 7) + 1 AS INT) AS l_linenumber",
      "CAST(pmod(xxhash64(id, 55), 50) + 1 AS DOUBLE) AS l_quantity",
      s"round(900.0 + ${u("id", 56)} * 104100.0, 2) AS l_extendedprice",
      "CAST(pmod(xxhash64(id, 57), 11) AS DOUBLE) / 100.0 AS l_discount",
      "CAST(pmod(xxhash64(id, 58), 9) AS DOUBLE) / 100.0 AS l_tax",
      pick("id", 59, Seq("A", "N", "R")) + " AS l_returnflag",
      pick("id", 60, Seq("F", "O")) + " AS l_linestatus",
      s"timestamp'1995-01-01 00:00:00' + make_interval(0, 0, 0, CAST(${u("id", 61)} * 2499 AS INT), 0, 0, 0) AS l_shipdate"),
      "lineitem")

    // events: ~monotone ts over a 30-day window (id-proportional base +
    // one-gap jitter, matching the driver data's small local
    // inversions); Exp(mean 50) value
    val gapUs = 30.0 * 86400 * 1e6 / nEvents
    write(spark.range(nEvents).selectExpr(
      "id AS event_id",
      s"timestamp_micros(CAST(unix_micros(timestamp'2024-01-01 00:00:00') + id * $gapUs + ${u("id", 71)} * $gapUs AS BIGINT)) AS ts",
      s"CAST(pmod(xxhash64(id, 72), $nCustomer) AS BIGINT) AS user_id",
      pick("id", 73, Seq("click", "error", "purchase", "signup", "view")) +
        " AS event_type",
      s"round(-50.0 * ln(1.0 - ${u("id", 74)}), 2) AS value",
      "concat('{\"k\": ', CAST(pmod(xxhash64(id, 75), 100) AS INT), '}') AS props"),
      "events")

    // documents: iid-uniform words from the vocab; ~0.2 % of odd
    // doc_ids copy their predecessor's text verbatim (exact-dup
    // population for the d-family)
    write(documentsDf(spark, nDocs, vocab, tokenZipf), "documents")

    // embeddings: 64-dim Box-Muller gaussians, sigma 0.12
    write(spark.range(nEmb).selectExpr(
      "id AS vec_id",
      s"""transform(sequence(0, 63), j -> CAST(
         | sqrt(-2.0 * ln((pmod(xxhash64(id * 64 + j, 91), 999999999) + 1) / 1e9))
         | * cos(6.283185307179586 * (pmod(xxhash64(id * 64 + j, 92), 1000000000) / 1e9))
         | * 0.12 AS FLOAT)) AS embedding""".stripMargin,
      "CAST(pmod(xxhash64(id, 93), 10) AS INT) AS label"),
      "embeddings")

    println(s"[gensf] done sf=$sf at $out")
    spark.stop()
  }
}
