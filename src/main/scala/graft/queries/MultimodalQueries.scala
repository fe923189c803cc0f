package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: media as opaque `binary` columns with
  * typed metadata. The real decode path (image/audio libs) lives in
  * `graft.multimodal.MediaPipeline` behind an injectable decoder; these
  * queries exercise the engine-side plumbing that IS verifiable —
  * binary encoding, byte-level metadata extraction, deterministic
  * header parsing and frame sampling — on blobs derived from `documents`.
  *
  * DuckDB cannot substring BLOBs, so byte access on both engines goes
  * through the hex-string view of the blob (lower(hex(blob))), keeping
  * the oracle exact.
  */
object MultimodalQueries extends QueryFamily {

  // Spark: blob = encode(text, 'UTF-8'); hexv = lower(hex(blob)).
  private val hexSpark = "lower(hex(encode(text, 'UTF-8')))"
  private val hexDuck = "lower(hex(encode(text)))"
  // hex pair i (1-based byte index) -> int value
  private def byteSpark(i: Int) =
    s"CAST(conv(substring($hexSpark, ${2 * i - 1}, 2), 16, 10) AS BIGINT)"
  private def byteDuck(i: Int) =
    s"CAST('0x' || substr($hexDuck, ${2 * i - 1}, 2) AS BIGINT)"

  // ---- x01: binary metadata + fake header decode -------------------------
  // Real pipeline shape: blob -> (n_bytes, magic, decoded dims). The
  // "decode" derives width/height from header bytes — a deterministic
  // stand-in for an image decoder, with the schema a real one would fill.
  private def x01(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    d.select(col("doc_id"),
        octet_length(expr("encode(text, 'UTF-8')")).as("n_bytes"),
        expr(s"substring($hexSpark, 1, 8)").as("magic"),
        (lit(32) + expr(byteSpark(1)) % 64).as("width"),
        (lit(32) + expr(byteSpark(2)) % 64).as("height"),
        lit(3).as("channels"),
        ((lit(32) + expr(byteSpark(1)) % 64) * (lit(32) + expr(byteSpark(2)) % 64) * lit(3))
          .as("decoded_size"))
      .orderBy(col("doc_id"))
  }
  private val x01Sql =
    s"""SELECT doc_id,
       | octet_length(encode(text)) AS n_bytes,
       | substr($hexDuck, 1, 8) AS magic,
       | 32 + ${byteDuck(1)} % 64 AS width,
       | 32 + ${byteDuck(2)} % 64 AS height,
       | 3 AS channels,
       | (32 + ${byteDuck(1)} % 64) * (32 + ${byteDuck(2)} % 64) * 3 AS decoded_size
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- x02: frame sampling + per-frame feature ---------------------------
  // Sample every 16th byte as a "frame", extract its value, aggregate a
  // checksum — the batch shape (one row in, array of frames out,
  // aggregated feature) matches a video frame-sampler.
  private def x02(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    // greatest(..,0): floor == truncate only for non-negative operands, so an
    // empty doc must not reach the division (Spark truncates toward zero,
    // DuckDB // floors — they'd disagree at -1/16).
    val frames = s"transform(sequence(0, CAST(greatest(length(text) - 1, 0) div 16 AS INT)), " +
      s"i -> CAST(conv(substring($hexSpark, i * 32 + 1, 2), 16, 10) AS BIGINT))"
    d.select(col("doc_id"),
        expr(s"size($frames)").cast("long").as("n_frames"),
        expr(s"aggregate($frames, 0L, (acc, v) -> acc + v)").as("frame_checksum"),
        expr(s"array_max($frames)").as("frame_max"))
      .orderBy(col("doc_id"))
  }
  private val x02Sql = {
    val frames = s"list_transform(generate_series(0, CAST(greatest(length(text) - 1, 0) // 16 AS BIGINT)), " +
      s"i -> CAST('0x' || substr($hexDuck, i * 32 + 1, 2) AS BIGINT))"
    // CAST .. AS BIGINT: DuckDB's list_sum yields HUGEINT, which the
    // driver's pandas bridge widens to float64 ("123.0" != "123" in the hash)
    s"""SELECT doc_id,
       | CAST(len($frames) AS BIGINT) AS n_frames,
       | CAST(list_sum($frames) AS BIGINT) AS frame_checksum,
       | list_max($frames) AS frame_max
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- x03: full fake-decode features ------------------------------------
  // The DataFrame-native twin of MediaPipeline.fakeDecoder: same
  // width/height/meanLuma math, so the mapPartitions path and the
  // columnar path are mutually checkable (MediaPipelineSpec) and this
  // one is DuckDB-oracle-checked.
  private def x03(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val nb = "octet_length(encode(text, 'UTF-8'))"
    // hex hoist + repartition + barrier (the pcmSamples lessons): the
    // inlined form recomputed hex(text) per BYTE on one input split —
    // 19 s at sf0.1 under the write path, sub-second hoisted
    val base = d.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), expr(hexSpark).as("hx"), expr(nb).as("nbv"),
        (lit(32) + expr(byteSpark(1)) % 64).as("width"),
        (lit(32) + expr(byteSpark(2)) % 64).as("height"))
      .localCheckpoint()
    val bytes = "transform(sequence(1, nbv), " +
      "i -> CAST(conv(substring(hx, i * 2 - 1, 2), 16, 10) AS BIGINT))"
    base.select(col("doc_id"),
        col("nbv").as("n_bytes"), col("width"), col("height"),
        (expr(s"aggregate($bytes, 0L, (acc, v) -> acc + v)").cast("double") /
          col("nbv")).cast("float").as("mean_luma"))
      .orderBy(col("doc_id"))
  }
  private val x03Sql = {
    val nb = "octet_length(encode(text))"
    val bytes = s"list_transform(generate_series(1, $nb), " +
      s"i -> CAST('0x' || substr($hexDuck, i * 2 - 1, 2) AS BIGINT))"
    s"""SELECT doc_id, $nb AS n_bytes,
       | 32 + ${byteDuck(1)} % 64 AS width,
       | 32 + ${byteDuck(2)} % 64 AS height,
       | CAST(CAST(list_sum($bytes) AS DOUBLE) / $nb AS REAL) AS mean_luma
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- x04: resize transform ---------------------------------------------
  // The metadata half of an image resize: target dims from a fixed max
  // edge, preserving the byte-exact integer arithmetic a real resizer's
  // shape calculation performs (the pixel work itself lives behind
  // MediaPipeline's injectable decoder; this is the columnar shape/
  // bookkeeping pass that plans batch sizes and output buffers).
  private val maxEdge = 48
  private def x04(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val w0 = lit(32) + expr(byteSpark(1)) % 64
    val h0 = lit(32) + expr(byteSpark(2)) % 64
    val scaleNum = lit(maxEdge)
    val scaleDen = greatest(w0, h0)
    // integer resize: floor(dim * maxEdge / longest_edge), min 1
    val w1 = greatest((w0 * scaleNum) / scaleDen, lit(1)).cast("long")
    val h1 = greatest((h0 * scaleNum) / scaleDen, lit(1)).cast("long")
    d.select(col("doc_id"),
        w0.as("width"), h0.as("height"),
        w1.as("out_width"), h1.as("out_height"),
        (w1 * h1 * 3).as("out_bytes"),
        (w1 * h1).cast("double").cast("float").as("out_pixels_f"))
      .orderBy(col("doc_id"))
  }
  private val x04Sql = {
    val w0 = s"(32 + ${byteDuck(1)} % 64)"
    val h0 = s"(32 + ${byteDuck(2)} % 64)"
    val den = s"GREATEST($w0, $h0)"
    val w1 = s"CAST(GREATEST(($w0 * $maxEdge) // $den, 1) AS BIGINT)"
    val h1 = s"CAST(GREATEST(($h0 * $maxEdge) // $den, 1) AS BIGINT)"
    s"""SELECT doc_id, $w0 AS width, $h0 AS height,
       | $w1 AS out_width, $h1 AS out_height,
       | $w1 * $h1 * 3 AS out_bytes,
       | CAST(CAST($w1 * $h1 AS DOUBLE) AS REAL) AS out_pixels_f
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- x05: byte-budget shard planning -------------------------------------
  // The dataloader-prep step after resize: assign each media row to a
  // fixed-size-target shard (webdataset-style tar planning). Rows are
  // packed per SOURCE stream in deterministic doc_id order; a shard is
  // the set of rows whose cumulative byte offset starts in the same
  // budget window — whole rows never split, a shard may overflow by at
  // most one row (the standard fixed-target-with-overflow strategy).
  // Scale shape is t11's: ONE window cumsum partitioned by source (a
  // single keyed shuffle — never a global funnel), sizes from x04's
  // integer resize arithmetic, everything exact longs.
  private val shardBudget = 65536L
  private def x05(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val w0 = lit(32) + expr(byteSpark(1)) % 64
    val h0 = lit(32) + expr(byteSpark(2)) % 64
    val den = greatest(w0, h0)
    val w1 = greatest((w0 * lit(maxEdge)) / den, lit(1)).cast("long")
    val h1 = greatest((h0 * lit(maxEdge)) / den, lit(1)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    d.select(col("doc_id"), col("source"), (w1 * h1 * 3).as("out_bytes"))
      .withColumn("cum", sum(col("out_bytes")).over(w))
      .select(col("doc_id"), col("source"), col("out_bytes"),
        (col("cum") - col("out_bytes")).as("byte_offset"),
        expr(s"(cum - out_bytes) div $shardBudget").as("shard_id"))
      .orderBy(col("source"), col("doc_id"))
  }
  private val x05Sql = {
    val w0 = s"(32 + ${byteDuck(1)} % 64)"
    val h0 = s"(32 + ${byteDuck(2)} % 64)"
    val den = s"GREATEST($w0, $h0)"
    val w1 = s"CAST(GREATEST(($w0 * $maxEdge) // $den, 1) AS BIGINT)"
    val h1 = s"CAST(GREATEST(($h0 * $maxEdge) // $den, 1) AS BIGINT)"
    s"""WITH sized AS (
       | SELECT doc_id, source, $w1 * $h1 * 3 AS out_bytes FROM documents),
       |packed AS (
       | SELECT doc_id, source, out_bytes,
       |  CAST(SUM(out_bytes) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       | FROM sized)
       |SELECT doc_id, source, out_bytes,
       | cum - out_bytes AS byte_offset,
       | (cum - out_bytes) // $shardBudget AS shard_id
       |FROM packed ORDER BY source, doc_id""".stripMargin
  }

  // ---- x06: perceptual-hash (aHash) image near-duplicate -------------------
  // The image-dedup analog of MinHash: a 60-bit average hash (bit i set
  // when "pixel" byte i exceeds the image mean — here over the fake
  // decode's first 60 bytes, the same stand-in x01-x04 use), candidate
  // pairs from 4×15-bit BAND buckets (two near-dups differing in ≤ 6
  // bits must agree on at least one band by pigeonhole... at ≤ 3 per-
  // band corruptions — the standard banding recall trade), then the
  // exact Hamming distance (bit_count of xor) verifies candidates.
  // Scale: hash is one codegen projection, the band join shuffles
  // (band, value) ids only — never image × image — and verification
  // touches candidates alone. All integer; both engines build the
  // identical hash.
  private val ahashBits = 60
  private val ahashBands = 4 // 15 bits each
  private val hammingMax = 6
  private def x06(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val bytesSum = (1 to ahashBits).map(byteSpark).mkString(" + ")
    val hash = (0 until ahashBits)
      .map(i => s"(CASE WHEN ${byteSpark(i + 1)} > bmean THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    val hashed = d.filter(octet_length(expr("encode(text, 'UTF-8')")) >= ahashBits)
      .withColumn("bmean", expr(s"($bytesSum) div $ahashBits"))
      .select(col("doc_id"), expr(s"CAST($hash AS BIGINT)").as("ah"))
      .localCheckpoint() // feeds all band projections + both verify sides
    val bands = (0 until ahashBands).map { k =>
      hashed.select(col("doc_id"), col("ah"), lit(k).as("band"),
        expr(s"(ah div ${1L << (k * 15)}) % ${1L << 15}").as("bval"))
    }.reduce(_ unionAll _)
    val a = bands.select(col("band"), col("bval"), col("doc_id").as("a_id"),
      col("ah").as("a_hash"))
    val b = bands.select(col("band"), col("bval"), col("doc_id").as("b_id"),
      col("ah").as("b_hash"))
    a.join(b, Seq("band", "bval"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_hash"), col("b_hash"))
      .distinct() // pairs meeting in several bands counted once
      .withColumn("hamming", expr("bit_count(a_hash ^ b_hash)"))
      .filter(col("hamming") <= hammingMax)
      .orderBy(col("a_id"), col("b_id"))
  }
  private val x06Sql = {
    val bytesSum = (1 to ahashBits).map(byteDuck).mkString(" + ")
    val hash = (0 until ahashBits)
      .map(i => s"(CASE WHEN ${byteDuck(i + 1)} > bmean THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    val bandSel = (0 until ahashBands).map { k =>
      s"SELECT doc_id, ah, $k AS band, (ah // ${1L << (k * 15)}) % ${1L << 15} AS bval FROM hashed"
    }.mkString("\n UNION ALL\n ")
    s"""WITH pre AS (
       | SELECT doc_id, ($bytesSum) // $ahashBits AS bmean, text
       | FROM documents WHERE octet_length(encode(text)) >= $ahashBits),
       |hashed AS (SELECT doc_id, CAST($hash AS BIGINT) AS ah FROM pre),
       |bands AS (
       | $bandSel),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |  a.ah AS a_hash, b.ah AS b_hash
       | FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, a_hash, b_hash,
       | CAST(bit_count(xor(a_hash, b_hash)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(a_hash, b_hash)) <= $hammingMax
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- x07: DCT perceptual-hash (pHash) image near-duplicate ---------------
  // The robust upgrade of x06's aHash: instead of per-byte vs mean, hash
  // the LOW-FREQUENCY structure. Classic pHash resizes to 32×32, takes
  // the 2-D DCT, keeps the top-left 8×8 coefficients and thresholds
  // against their median. Scaled to the fake-decode stand-in x01-x06
  // use: the "image" is the first 64 blob bytes as an 8×8 block, the
  // 2-D DCT-II (orthonormal) is taken, the top-left 4×4 low-frequency
  // block kept, and each of the 15 AC coefficients thresholds against
  // the AC MEAN (15*c_i > Σc — multiply, never divide: Spark `div`
  // truncates where DuckDB `//` floors on negatives).
  //
  // Determinism across engines: the DCT basis is QUANTIZED — K[u][r] =
  // round(α(u)·cos((2r+1)uπ/16)·4096) — so every coefficient is an
  // exact integer dot product Σ W·byte with W = K[u][r]·K[v][c]
  // precomputed on the driver and embedded as identical literals in
  // both the Spark plan and the oracle SQL (the l11 fixed-
  // parenthesization discipline, taken all the way to integers).
  // |coeff| ≤ 2048²·255·64 < 2⁶³ — no overflow.
  //
  // Candidate generation is x06's banding: 3 bands × 5 bits over the
  // 15-bit hash; two images within Hamming ≤ 2 must agree on ≥ 1 band
  // (pigeonhole), exact bit_count verify on candidates only. Scale
  // shape: one codegen projection per image, band join ships
  // (band, bval, id, hash) only — never pixels.
  private val phashN = graft.plans.PhashHash.blockN // pixel block is 8×8 = 64 bytes
  private val phashBands = 3 // 5 bits each over the 15 AC bits
  private val phashHammingMax = 2
  /** coeff(u,v) as a sum of 64 integer terms over byte columns b1..b64 —
    * the ORACLE-side spelling of PhashHash's generated loop; the basis
    * is single-sourced from the native expression's companion. */
  private def phashCoeffExpr(u: Int, v: Int): String = {
    val basis = graft.plans.PhashHash.basis
    (for { r <- 0 until phashN; c <- 0 until phashN } yield {
      val w = basis(u)(r) * basis(v)(c)
      s"($w) * b${r * phashN + c + 1}"
    }).mkString(" + ")
  }
  // AC coefficient order: (u,v) row-major over the kept block, DC skipped.
  private val phashAc: Seq[(Int, Int)] = graft.plans.PhashHash.acPairs

  /** Per-doc (doc_id, ph) pHash table — x07's first stage, public so
    * MediaPipelineSpec can brute-force-verify the banding is lossless.
    *
    * The hash is the native `phash_hash` expression (plans/PhashHash):
    * the identical integer math as stacked Column projections would be
    * a single ~960-term expression tree after CollapseProject — past
    * janino's 64 KB method limit, silently dropping the projection to
    * interpreted eval with per-reference subtree recomputation. The
    * native expression generates a compact LOOP over the referenced
    * weight matrix and stays inside whole-stage codegen. */
  private[graft] def phashHashes(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val nBytes = phashN * phashN
    d.filter(octet_length(expr("encode(text, 'UTF-8')")) >= nBytes)
      .select(col("doc_id"),
        expr("phash_hash(encode(text, 'UTF-8'))").as("ph"))
  }

  private def x07(s: SparkSession, dir: String): DataFrame = {
    val hashed = phashHashes(s, dir)
      .localCheckpoint() // feeds all band projections + both verify sides
    val bands = (0 until phashBands).map { k =>
      hashed.select(col("doc_id"), col("ph"), lit(k).as("band"),
        expr(s"(ph div ${1L << (k * 5)}) % ${1L << 5}").as("bval"))
    }.reduce(_ unionAll _)
    val a = bands.select(col("band"), col("bval"), col("doc_id").as("a_id"),
      col("ph").as("a_hash"))
    val b = bands.select(col("band"), col("bval"), col("doc_id").as("b_id"),
      col("ph").as("b_hash"))
    a.join(b, Seq("band", "bval"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_hash"), col("b_hash"))
      .distinct()
      .withColumn("hamming", expr("bit_count(a_hash ^ b_hash)"))
      .filter(col("hamming") <= phashHammingMax)
      .orderBy(col("a_id"), col("b_id"))
  }
  private val x07Sql = {
    val nBytes = phashN * phashN
    val byteCols = (1 to nBytes).map(i => s"${byteDuck(i)} AS b$i").mkString(",\n  ")
    val coeffCols = phashAc.zipWithIndex
      .map { case ((u, v), i) => s"${phashCoeffExpr(u, v)} AS c${i + 1}" }
      .mkString(",\n  ")
    val acSum = (1 to phashAc.size).map(i => s"c$i").mkString(" + ")
    val hash = (0 until phashAc.size)
      .map(i => s"(CASE WHEN ${phashAc.size} * c${i + 1} > acsum THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    val bandSel = (0 until phashBands).map { k =>
      s"SELECT doc_id, ph, $k AS band, (ph // ${1L << (k * 5)}) % ${1L << 5} AS bval FROM hashed"
    }.mkString("\n UNION ALL\n ")
    s"""WITH pixels AS (
       | SELECT doc_id,
       |  $byteCols
       | FROM documents WHERE octet_length(encode(text)) >= $nBytes),
       |coeffs AS (
       | SELECT doc_id,
       |  $coeffCols
       | FROM pixels),
       |summed AS (SELECT *, $acSum AS acsum FROM coeffs),
       |hashed AS (SELECT doc_id, CAST($hash AS BIGINT) AS ph FROM summed),
       |bands AS (
       | $bandSel),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |  a.ph AS a_hash, b.ph AS b_hash
       | FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, a_hash, b_hash,
       | CAST(bit_count(xor(a_hash, b_hash)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(a_hash, b_hash)) <= $phashHammingMax
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- x08: audio feature extraction (PCM-shaped) --------------------------
  // The audio half of the media pipeline: treat the blob as 16-bit
  // little-endian signed PCM and extract the standard clip features —
  // sample count, total energy, zero-crossing count, peak amplitude.
  // Everything is integer-exact (energy is Σs² over int16 — no floats
  // anywhere), one scan, array HOFs only: the same shape a real
  // feature extractor has after the decoder (which for real codecs
  // lives behind MediaPipeline's injectable decoder; PCM IS the
  // decoded form, so this path is fully real).
  /** (doc_id, smp) with smp = the int16-LE PCM view of the text bytes,
    * materialized and partition-spread. Two structural points both
    * measured on the 5000-doc sf0.1 corpus:
    *  - the hex string is its OWN materialized column, NOT re-spelled
    *    inside the per-sample lambda: CollapseProject inlines a
    *    single-referenced alias, and the inlined form recomputes
    *    hex(text) (O(n)) for every SAMPLE — O(n²)/doc, 22 s for the
    *    corpus vs sub-second with the hoist;
    *  - the one-file parquet source is ONE input split, so the
    *    (interpreted-lambda) sample build is repartitioned across
    *    cores first — the d02 repartition-before-compute rule.
    * The localCheckpoint is the inline barrier; at cluster scale it is
    * the materialized decode output every media pipeline persists. */
  private def pcmSamples(s: SparkSession, dir: String, minBytes: Int): DataFrame = {
    val d = rd(s, dir, "documents")
    val nb = "octet_length(encode(text, 'UTF-8'))"
    // native pcm_decode (plans/PcmDecode.scala): a codegen'd tight loop
    // over the raw bytes. The previous spelling walked a hex-string
    // view with substring+conv per SAMPLE inside a higher-order
    // transform — interpreted, 2x the bytes, ~3.7 s of x11's sf0.1
    // runtime; the native decode removes that entirely. The DuckDB
    // oracle keeps the hex spelling — the contract is the value.
    d.filter(expr(nb) >= minBytes)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        expr("pcm_decode(encode(text, 'UTF-8'))").as("smp"))
      .localCheckpoint()
  }
  private def x08(s: SparkSession, dir: String): DataFrame = {
    pcmSamples(s, dir, minBytes = 2)
      .select(col("doc_id"),
        size(col("smp")).cast("long").as("n_samples"),
        expr("aggregate(smp, 0L, (acc, v) -> acc + v * v)").as("energy"),
        // CASE guard: Spark's sequence(1, 0) DESCENDS instead of being
        // empty, so a 1-sample clip must not reach the pair walk
        expr("CASE WHEN size(smp) < 2 THEN 0L ELSE " +
          "aggregate(transform(sequence(1, size(smp) - 1), " +
          "i -> CASE WHEN (smp[i - 1] >= 0) != (smp[i] >= 0) THEN 1L ELSE 0L END), " +
          "0L, (acc, v) -> acc + v) END").as("n_zero_cross"),
        expr("array_max(transform(smp, v -> abs(v)))").as("peak"))
      .orderBy(col("doc_id"))
  }
  private val x08Sql = {
    val nb = "octet_length(encode(text))"
    val raw = s"(CAST('0x' || substr($hexDuck, i * 4 - 3, 2) AS BIGINT)" +
      s" + 256 * CAST('0x' || substr($hexDuck, i * 4 - 1, 2) AS BIGINT))"
    val samples = s"list_transform(generate_series(1, CAST($nb // 2 AS BIGINT)), " +
      s"i -> CASE WHEN $raw >= 32768 THEN $raw - 65536 ELSE $raw END)"
    s"""WITH pcm AS (
       | SELECT doc_id, $samples AS smp FROM documents WHERE $nb >= 2)
       |SELECT doc_id,
       | CAST(len(smp) AS BIGINT) AS n_samples,
       | CAST(list_sum(list_transform(smp, v -> v * v)) AS BIGINT) AS energy,
       | CAST(COALESCE(list_sum(list_transform(generate_series(2, len(smp)),
       |   i -> CASE WHEN (smp[i - 1] >= 0) != (smp[i] >= 0) THEN 1 ELSE 0 END)), 0)
       |   AS BIGINT) AS n_zero_cross,
       | list_max(list_transform(smp, v -> abs(v))) AS peak
       |FROM pcm ORDER BY doc_id""".stripMargin
  }

  // ---- x09: voice-activity segmentation (energy VAD) ----------------------
  // The segmentation step after x08's feature extraction: frame the PCM
  // stream (8 samples/frame), mark frames voiced by an energy gate, and
  // merge voiced runs into segments — the standard energy-VAD shape
  // every speech pipeline runs before ASR. Relational form: frame
  // energies via ONE array transform (integer Σs², no floats), a
  // doc-partitioned gaps-and-islands window (u12's trick: island id =
  // frame − row_number) and a per-doc groupBy — every window is keyed
  // by doc_id, nothing corpus-wide. Threshold 5.25e9 ≈ the corpus
  // median frame energy, so both segment classes actually occur.
  private val vadFrame = 8
  private val vadThresh = 5250000000L
  private def x09(s: SparkSession, dir: String): DataFrame = {
    // decode via the shared materialized PCM view (see pcmSamples for
    // the two structural lessons — hex hoist + repartition — that took
    // this query from 487 s to sub-second at sf0.1). Framing is
    // RELATIONAL (posexplode + integer-div groupBy), not a nested
    // aggregate-in-transform lambda: the frame energy is an order-free
    // integer sum, so the map-side-combined groupBy is both the fast
    // local form and the honest 100 TB shape.
    val frames = pcmSamples(s, dir, minBytes = 2 * vadFrame)
      .select(col("doc_id"),
        expr(s"CAST(size(smp) div $vadFrame AS INT) * $vadFrame").as("nfull"),
        posexplode(col("smp")).as(Seq("pos", "v")))
      .filter(col("pos") < col("nfull"))
      .groupBy(col("doc_id"), expr(s"pos div $vadFrame").cast("int").as("fidx"))
      .agg(sum(col("v") * col("v")).as("fenergy"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("fidx"))
    val islands = frames.filter(col("fenergy") >= vadThresh)
      .withColumn("grp", col("fidx") - row_number().over(w))
    val segs = islands.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("fidx")).as("start_frame"), max(col("fidx")).as("end_frame"),
        count(lit(1)).as("n_frames"), sum(col("fenergy")).as("seg_energy"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("start_frame"))
    segs.withColumn("seg_idx", row_number().over(w2))
      .select(col("doc_id"), col("seg_idx"), col("start_frame"),
        col("end_frame"), col("n_frames"), col("seg_energy"))
      .orderBy(col("doc_id"), col("seg_idx"))
  }
  private val x09Sql = {
    val nb = "octet_length(encode(text))"
    val raw = s"(CAST('0x' || substr($hexDuck, i * 4 - 3, 2) AS BIGINT)" +
      s" + 256 * CAST('0x' || substr($hexDuck, i * 4 - 1, 2) AS BIGINT))"
    val samples = s"list_transform(generate_series(1, CAST($nb // 2 AS BIGINT)), " +
      s"i -> CASE WHEN $raw >= 32768 THEN $raw - 65536 ELSE $raw END)"
    s"""WITH pcm AS (
       | SELECT doc_id, $samples AS smp FROM documents WHERE $nb >= ${2 * vadFrame}),
       |fr AS (
       | SELECT doc_id, f AS fidx,
       |  CAST(list_sum(list_transform(smp[(f * $vadFrame + 1):(f * $vadFrame + $vadFrame)],
       |    v -> v * v)) AS BIGINT) AS fenergy
       | FROM pcm, unnest(generate_series(0, CAST(len(smp) // $vadFrame AS BIGINT) - 1)) AS t(f)),
       |islands AS (
       | SELECT doc_id, fidx, fenergy,
       |  fidx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fidx) AS grp
       | FROM fr WHERE fenergy >= $vadThresh),
       |segs AS (
       | SELECT doc_id, grp, MIN(fidx) AS start_frame, MAX(fidx) AS end_frame,
       |  COUNT(*) AS n_frames, CAST(SUM(fenergy) AS BIGINT) AS seg_energy
       | FROM islands GROUP BY 1, 2)
       |SELECT doc_id,
       | ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame) AS seg_idx,
       | start_frame, end_frame, n_frames, seg_energy
       |FROM segs
       |ORDER BY doc_id, seg_idx""".stripMargin
  }

  // ---- x12: shot-boundary detection (histogram cut) ------------------------
  // The video-curation segmentation primitive (threshold shot-cut
  // detection over frame-histogram distance — the classical baseline
  // every shot detector benchmarks against, cf. PySceneDetect's
  // content detector): frame the byte stream (16 bytes/frame), build a
  // per-frame 8-bin intensity histogram, declare a boundary where the
  // L1 distance between CONSECUTIVE frame histograms exceeds a fixed
  // cut threshold, and emit shots as the runs between boundaries.
  // Differs structurally from x09's VAD (scalar gate -> islands): the
  // frame feature is a VECTOR (an 8-bin histogram), compared between
  // consecutive frames. All integer counts end-to-end: nothing to
  // quantize.
  //
  // Scale: histograms are built IN ARRAY SPACE (nested HOFs over the
  // hex-hoisted, repartitioned, checkpointed decode — the x02/x03
  // lesson) so the only explode is one row per FRAME, not per byte;
  // the first cut of this query exploded bytes into a (doc, frame,
  // bin) groupBy + dense-grid join + bin-keyed lag and measured 13 s
  // at sf0.1 — the array form with a doc-keyed lag of the whole
  // histogram (zip_with |delta| fold) is the same integer math with
  // 16x fewer rows and two fewer shuffles. Every window is doc-keyed
  // (u12 discipline). Threshold 6 sits at ~p95 of the corpus L1
  // distribution, so cuts are rare-but-present at every SF.
  private val shotFrame = 16
  private val shotThresh = 6L
  private def x12(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val nb = "octet_length(encode(text, 'UTF-8'))"
    // two-level transform: decode the blob's bytes ONCE (native
    // byte_values — the hex substring+conv spelling string-parsed every
    // byte inside the lambda, most of x12's ~2 s exec at sf0.1), frame
    // it with slice, then derive the 8 bin counts per frame
    val frames =
      s"""transform(
         | transform(sequence(0, CAST((nbv - 1) div $shotFrame AS INT)),
         |  f -> slice(bv, f * $shotFrame + 1,
         |             least($shotFrame, nbv - f * $shotFrame))),
         | fb -> transform(sequence(0, 7),
         |   b -> CAST(size(filter(fb, v -> v div 32 = b)) AS BIGINT)))""".stripMargin
    val fr = d.repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        expr("byte_values(encode(text, 'UTF-8'))").as("bv"),
        expr(nb).as("nbv"))
      .filter(col("nbv") > 0)
      .select(col("doc_id"), posexplode(expr(frames)).as(Seq("fidx0", "h")))
      .select(col("doc_id"), col("fidx0").cast("long").as("fidx"), col("h"))
    val wDoc0 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("fidx"))
    val flagged = fr
      .withColumn("ph", lag(col("h"), 1).over(wDoc0))
      .select(col("doc_id"), col("fidx"),
        expr(s"""CASE WHEN ph IS NULL THEN 0L
                | WHEN aggregate(zip_with(h, ph, (x, y) -> abs(x - y)),
                |                0L, (acc, v) -> acc + v) > $shotThresh
                | THEN 1L ELSE 0L END""".stripMargin).as("cut"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("fidx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    flagged.withColumn("shot_id", sum(col("cut")).over(wDoc))
      .groupBy(col("doc_id"), col("shot_id"))
      .agg(min(col("fidx")).as("start_frame"), max(col("fidx")).as("end_frame"),
        count(lit(1)).as("n_frames"))
      .orderBy(col("doc_id"), col("shot_id"))
  }
  private val x12Sql = {
    val nb = "octet_length(encode(text))"
    s"""WITH hx AS (
       | SELECT doc_id, $hexDuck AS h, $nb AS nbv FROM documents
       | WHERE $nb > 0),
       |b AS (
       | SELECT doc_id, i - 1 AS pos,
       |  CAST('0x' || substr(h, i * 2 - 1, 2) AS BIGINT) AS v
       | FROM hx, unnest(generate_series(1, nbv)) AS t(i)),
       |cnt AS (
       | SELECT doc_id, pos // $shotFrame AS fidx, v // 32 AS bin,
       |  COUNT(*) AS c
       | FROM b GROUP BY 1, 2, 3),
       |spine AS (SELECT DISTINCT doc_id, fidx FROM cnt),
       |bins AS (SELECT unnest(generate_series(0, 7)) AS bin),
       |grid AS (
       | SELECT s.doc_id, s.fidx, bn.bin, COALESCE(c.c, 0) AS c
       | FROM spine s CROSS JOIN bins bn
       | LEFT JOIN cnt c
       |  ON c.doc_id = s.doc_id AND c.fidx = s.fidx AND c.bin = bn.bin),
       |lagd AS (
       | SELECT doc_id, fidx, c,
       |  LAG(c) OVER (PARTITION BY doc_id, bin ORDER BY fidx) AS pc
       | FROM grid),
       |l1 AS (
       | SELECT doc_id, fidx, CAST(SUM(ABS(c - pc)) AS BIGINT) AS d
       | FROM lagd WHERE pc IS NOT NULL GROUP BY 1, 2),
       |flagged AS (
       | SELECT s.doc_id, s.fidx,
       |  CASE WHEN COALESCE(l.d, 0) > $shotThresh THEN 1 ELSE 0 END AS cut
       | FROM spine s LEFT JOIN l1 l USING (doc_id, fidx)),
       |shots AS (
       | SELECT doc_id, fidx,
       |  CAST(SUM(cut) OVER (PARTITION BY doc_id ORDER BY fidx
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |   AS shot_id
       | FROM flagged)
       |SELECT doc_id, shot_id, MIN(fidx) AS start_frame,
       | MAX(fidx) AS end_frame, COUNT(*) AS n_frames
       |FROM shots GROUP BY 1, 2
       |ORDER BY doc_id, shot_id""".stripMargin
  }

  // ---- x13: gated integrated loudness (R128 shape) -------------------------
  // The loudness-normalization pass every audio-ingest pipeline runs
  // (EBU R128 / ITU BS.1770 two-stage gating, energy-domain form):
  // frame the PCM stream into blocks, drop blocks below an ABSOLUTE
  // energy floor, compute the mean energy of the survivors, drop
  // blocks below a RELATIVE threshold under that mean, and report
  // 10*log10(mean energy of the final set) as integrated loudness.
  // GATE SIZING IS MEASURED, NOT COPIED (the j21 lesson): real audio
  // spans 60+ dB where R128's -70 LUFS / -10 LU constants live, but
  // this ASCII-derived PCM spans 3.9 dB (block energies 2.8e9-7.0e9,
  // measured) — at the textbook constants NEITHER gate ever fires and
  // the operator would be dead code. The demo constants sit inside
  // the actual range: absolute floor 3.0e9 (~p0.5) and a -1 dB
  // relative gate (energy ratio 10^0.1 ~ 126/100). Both gates run as
  // EXACT INTEGER comparisons (fe * 126 * n1 > 100 * sum1, never a
  // float mean), so the gated set is bit-identical cross-engine; the
  // single log10 per doc runs on an exact-ratio double.
  //
  // Scale: x09's framing (posexplode + integer-div groupBy, doc-keyed
  // everything) plus one broadcast-free second pass — the stage-1
  // (doc, n1, sum1) table joins back by doc_id, the u12-style
  // doc-bounded shape. No corpus-wide state.
  private val loudAbsGate = 3000000000L // ~p0.5 of the measured block energies
  private def x13(s: SparkSession, dir: String): DataFrame = {
    val frames = pcmSamples(s, dir, minBytes = 2 * vadFrame)
      .select(col("doc_id"),
        expr(s"CAST(size(smp) div $vadFrame AS INT) * $vadFrame").as("nfull"),
        posexplode(col("smp")).as(Seq("pos", "v")))
      .filter(col("pos") < col("nfull"))
      .groupBy(col("doc_id"), expr(s"pos div $vadFrame").cast("int").as("fidx"))
      .agg(sum(col("v") * col("v")).as("fe"))
      .localCheckpoint() // stage-1 totals AND the relative-gate pass
    val st1 = frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        org.apache.spark.sql.functions.sum(
          when(col("fe") > loudAbsGate, 1L).otherwise(0L)).as("n1"),
        org.apache.spark.sql.functions.sum(
          when(col("fe") > loudAbsGate, col("fe")).otherwise(lit(0L)))
          .as("sum1"))
      .filter(col("n1") > 0)
    frames.join(st1, Seq("doc_id"))
      .filter(col("fe") > loudAbsGate &&
        expr("fe * 126 * n1 > 100 * sum1")) // energy > mean/10^0.1, exact
      .groupBy(col("doc_id"), col("n_blocks"), col("n1"))
      .agg(count(lit(1)).as("n2"),
        org.apache.spark.sql.functions.sum(col("fe")).as("sum2"))
      .select(col("doc_id"), col("n_blocks"), col("n1").as("n_abs_gated"),
        col("n2").as("n_rel_gated"),
        expr("""CAST(floor(10.0 * log10(CAST(sum2 AS DOUBLE) / n2) * 1e6
               | + 0.5) / 1e6 AS FLOAT)""".stripMargin).as("loudness_db"))
      .orderBy(col("doc_id"))
  }
  private val x13Sql = {
    val nb = "octet_length(encode(text))"
    val raw = s"(CAST('0x' || substr($hexDuck, i * 4 - 3, 2) AS BIGINT)" +
      s" + 256 * CAST('0x' || substr($hexDuck, i * 4 - 1, 2) AS BIGINT))"
    val samples = s"list_transform(generate_series(1, CAST($nb // 2 AS BIGINT)), " +
      s"i -> CASE WHEN $raw >= 32768 THEN $raw - 65536 ELSE $raw END)"
    s"""WITH pcm AS (
       | SELECT doc_id, $samples AS smp FROM documents
       | WHERE $nb >= ${2 * vadFrame}),
       |fr AS (
       | SELECT doc_id, f AS fidx,
       |  CAST(list_sum(list_transform(smp[(f * $vadFrame + 1):(f * $vadFrame + $vadFrame)],
       |    v -> v * v)) AS BIGINT) AS fe
       | FROM pcm, unnest(generate_series(0, CAST(len(smp) // $vadFrame AS BIGINT) - 1)) AS t(f)),
       |st1 AS (
       | SELECT doc_id, COUNT(*) AS n_blocks,
       |  CAST(SUM(CASE WHEN fe > $loudAbsGate THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n1,
       |  CAST(SUM(CASE WHEN fe > $loudAbsGate THEN fe ELSE 0 END) AS BIGINT)
       |   AS sum1
       | FROM fr GROUP BY 1 HAVING n1 > 0)
       |SELECT f.doc_id, s.n_blocks, s.n1 AS n_abs_gated,
       | COUNT(*) AS n_rel_gated,
       | CAST(floor(10.0 * log10(CAST(SUM(f.fe) AS DOUBLE) / COUNT(*)) * 1e6
       |  + 0.5) / 1e6 AS REAL) AS loudness_db
       |FROM fr f JOIN st1 s USING (doc_id)
       |WHERE f.fe > $loudAbsGate AND f.fe * 126 * s.n1 > 100 * s.sum1
       |GROUP BY 1, 2, 3
       |ORDER BY f.doc_id""".stripMargin
  }

  // ---- x10: image tiling statistics ---------------------------------------
  // The patch-extraction pass of a ViT-style pipeline: split the 8×8
  // pixel block (x07's phash block) into four 4×4 tiles and emit
  // per-tile sum and peak luma. Tiles address FIXED byte offsets, so
  // the whole op is one codegen projection over 2×…×2-char substrings —
  // no lambdas, no explode, integer-exact, and the per-tile layout is
  // what a patch embedder's batch planner consumes. Docs shorter than
  // the block are filtered (x07 convention).
  private def x10(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val nb = "octet_length(encode(text, 'UTF-8'))"
    def tileBytes(ty: Int, tx: Int): Seq[String] =
      for (r <- 0 until 4; c <- 0 until 4)
        yield byteSpark(8 * (4 * ty + r) + (4 * tx + c) + 1)
    val cols = for (ty <- 0 to 1; tx <- 0 to 1) yield {
      val bs = tileBytes(ty, tx)
      Seq(expr(bs.mkString("(", " + ", ")")).as(s"t${ty}${tx}_sum"),
        expr(bs.mkString("GREATEST(", ", ", ")")).as(s"t${ty}${tx}_max"))
    }
    d.filter(expr(nb) >= 64)
      .select(col("doc_id") +: cols.flatten: _*)
      .orderBy(col("doc_id"))
  }
  private val x10Sql = {
    val nb = "octet_length(encode(text))"
    def tileBytes(ty: Int, tx: Int): Seq[String] =
      (for (r <- 0 until 4; c <- 0 until 4)
        yield byteDuck(8 * (4 * ty + r) + (4 * tx + c) + 1)).toSeq
    val cols = (for (ty <- 0 to 1; tx <- 0 to 1) yield {
      val bs = tileBytes(ty, tx)
      Seq(s"${bs.mkString("(", " + ", ")")} AS t${ty}${tx}_sum",
        s"${bs.mkString("GREATEST(", ", ", ")")} AS t${ty}${tx}_max")
    }).flatten.mkString(",\n | ")
    s"""SELECT doc_id,
       | $cols
       |FROM documents WHERE $nb >= 64
       |ORDER BY doc_id""".stripMargin
  }

  // ---- x11: constellation-hash audio matching ------------------------------
  // The audio-retrieval classic (Wang 2003, the Shazam paper): reduce
  // each clip to a constellation of per-frame peaks, pair nearby peaks
  // into combinatorial hashes, and identify a query clip by the track
  // whose matched hashes agree on ONE time offset. Engine model over
  // the x08 PCM view: 8-sample frames (docs are short — median ~150
  // samples), per-frame peak band =
  // |peak| mod 1024 (the LOW bits — ASCII-derived PCM concentrates its
  // variation there; a magnitude band div 2048 carried so little
  // entropy that only 4/58 clips self-matched. peak is non-negative,
  // so mod and pmod agree across engines), anchor→target pairs with
  // fan-out Δt ∈ {1,2,3}, hash = (band_a·1024 + band_b)·4 + Δt. Query
  // clips are the same corpus minus its first two frames (every 5th
  // doc), so ground truth is the source doc and the expected offset is
  // exactly 2 — the is_self/offset columns make the query its own
  // recall harness.
  //
  // Scale design: this is Shazam's actual distributed shape — the
  // constellation build is one scan (array HOFs, no explode until the
  // ≤nf-row frame table), pair generation is a per-doc self-join on the
  // doc key (frames per doc are bounded by clip length, never corpus
  // size), and the match is a HASH-keyed equi-join (~4.2M distinct
  // hashes here — sized so the per-hash bucket product stays O(1):
  // a 16k space put ~250 track x ~50 clip pairs in every bucket and
  // the vote join emitted ~200M rows (70 s at sf0.1); at 4.2M the
  // join output is linear in the fingerprint count; 2^30+ with real spectral bands) followed by a
  // (clip, track, offset) vote count — map-side combined — and a
  // per-clip rank-1 window. No pairwise clip×track comparison ever
  // happens; the hash join IS the candidate gate. All arithmetic is
  // integer end-to-end.
  private def x11(s: SparkSession, dir: String): DataFrame = {
    // bands stays an ARRAY column end-to-end: pair generation walks the
    // array with nested transforms (LINEAR in frames ×3 fan-outs) and
    // explodes the finished fingerprints ONCE. The first cut exploded
    // frames to rows and self-joined per doc — that materializes f²
    // candidates per doc before the Δt filter (1.8B rows at sf0.1).
    val pk = pcmSamples(s, dir, minBytes = 64)
      .select(col("doc_id"), expr(
        "transform(sequence(1, CAST(size(smp) div 8 AS INT)), " +
          "j -> pmod(array_max(transform(slice(smp, (j - 1) * 8 + 1, 8), " +
          "v -> abs(v))), 1024L))").as("bands"))
      .localCheckpoint() // feeds track fingerprints AND clip fingerprints
    // sequence(1, 0) DESCENDS instead of being empty (the x08 gotcha),
    // so the j range is clamped to >=1 and re-filtered against the
    // actual bound before any element_at touches the array
    def pairs(src: DataFrame, id: String, t: String): DataFrame =
      src.select(col("doc_id").as(id), explode(expr(
        "flatten(transform(sequence(1, 3), dt -> " +
          "transform(filter(sequence(1, greatest(size(bands) - dt, 1)), " +
          "j -> j + dt <= size(bands)), " +
          "j -> struct(CAST(j AS BIGINT) AS t, " +
          "(element_at(bands, j) * 1024 + element_at(bands, j + dt)) * 4 " +
          "+ CAST(dt AS BIGINT) AS fhash))))")).as("fp"))
        .select(col(id), col("fp.fhash").as("fhash"), col("fp.t").as(t))
    val tfp0 = pairs(pk, "track_id", "t1").localCheckpoint()
    // hot-hash suppression (the champion-list / stop-word discipline):
    // the ASCII-derived band distribution is skewed, so a few hashes
    // carry thousands of track postings and the vote join degenerates
    // to their cross product (10.5M vote cells before the gate). A hash
    // with > 64 track postings carries ~no identification power — drop
    // it from BOTH sides. Keyed by fhash, the same shuffle key the
    // match join uses; the gate costs one aggregate on that key.
    val hot = tfp0.groupBy(col("fhash")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 64).select(col("fhash"))
    val tfp = tfp0.join(hot, Seq("fhash"), "left_anti")
    val cfp = pairs(
      pk.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          expr("slice(bands, 3, greatest(size(bands) - 2, 0))").as("bands")),
      "clip_id", "tc")
      .join(hot, Seq("fhash"), "left_anti")
    val votes = cfp.join(tfp, Seq("fhash"))
      .groupBy(col("clip_id"), col("track_id"),
        (col("t1") - col("tc")).as("t_offset"))
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("clip_id"))
      .orderBy(col("votes").desc, col("track_id").asc, col("t_offset").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("clip_id"), col("track_id").as("matched_track"),
        col("t_offset"), col("votes"),
        (col("clip_id") === col("track_id")).cast("int").as("is_self"))
      .orderBy(col("clip_id"))
  }
  private val x11Sql = {
    val nb = "octet_length(encode(text))"
    val raw = s"(CAST('0x' || substr(hx, i * 4 - 3, 2) AS BIGINT)" +
      s" + 256 * CAST('0x' || substr(hx, i * 4 - 1, 2) AS BIGINT))"
    s"""WITH pcm AS (
       | SELECT doc_id, $hexDuck AS hx, $nb AS nbv
       | FROM documents WHERE $nb >= 64),
       |smpt AS (
       | SELECT doc_id,
       |  list_transform(generate_series(1, CAST(nbv // 2 AS BIGINT)),
       |   i -> CASE WHEN $raw >= 32768 THEN $raw - 65536 ELSE $raw END) AS smp
       | FROM pcm),
       |bandt AS (
       | SELECT doc_id,
       |  list_transform(generate_series(1, CAST(len(smp) // 8 AS BIGINT)),
       |   j -> list_max(list_transform(
       |     smp[(j - 1) * 8 + 1 : (j - 1) * 8 + 8], v -> abs(v))) % 1024)
       |   AS bands
       | FROM smpt),
       |pk AS (
       | SELECT doc_id, CAST(j AS BIGINT) AS j, bands[j] AS band
       | FROM bandt, unnest(generate_series(1, len(bands))) AS u(j)),
       |tfp AS (
       | SELECT a.doc_id AS track_id,
       |  (a.band * 1024 + b.band) * 4 + (b.j - a.j) AS fhash, a.j AS t1
       | FROM pk a JOIN pk b ON a.doc_id = b.doc_id
       |  AND b.j > a.j AND b.j - a.j <= 3),
       |hot AS (
       | SELECT fhash FROM tfp GROUP BY fhash HAVING COUNT(*) > 64),
       |tfp2 AS (
       | SELECT * FROM tfp WHERE fhash NOT IN (SELECT fhash FROM hot)),
       |cpk AS (
       | SELECT doc_id, j - 2 AS j, band FROM pk
       | WHERE doc_id % 5 = 0 AND j >= 3),
       |cfp AS (
       | SELECT a.doc_id AS clip_id,
       |  (a.band * 1024 + b.band) * 4 + (b.j - a.j) AS fhash, a.j AS tc
       | FROM cpk a JOIN cpk b ON a.doc_id = b.doc_id
       |  AND b.j > a.j AND b.j - a.j <= 3),
       |cfp2 AS (
       | SELECT * FROM cfp WHERE fhash NOT IN (SELECT fhash FROM hot)),
       |votes AS (
       | SELECT c.clip_id, t.track_id, t.t1 - c.tc AS t_offset,
       |  COUNT(*) AS votes
       | FROM cfp2 c JOIN tfp2 t USING (fhash)
       | GROUP BY 1, 2, 3),
       |ranked AS (
       | SELECT *, ROW_NUMBER() OVER (PARTITION BY clip_id
       |   ORDER BY votes DESC, track_id ASC, t_offset ASC) AS rn
       | FROM votes)
       |SELECT clip_id, track_id AS matched_track, t_offset, votes,
       | CAST(clip_id = track_id AS INT) AS is_self
       |FROM ranked WHERE rn = 1 ORDER BY clip_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x11_constellation_match" -> (x11 _),
    "x13_loudness" -> (x13 _),
    "x12_shot_boundaries" -> (x12 _),
    "x10_tile_stats" -> (x10 _),
    "x09_vad_segments" -> (x09 _),
    "x06_image_neardup" -> (x06 _),
    "x07_phash_neardup" -> (x07 _),
    "x08_pcm_features" -> (x08 _),
    "x01_binary_meta" -> (x01 _),
    "x02_frame_sample" -> (x02 _),
    "x03_decode_features" -> (x03 _),
    "x04_resize_shape" -> (x04 _),
    "x05_shard_plan" -> (x05 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "x11_constellation_match" -> x11Sql,
    "x13_loudness" -> x13Sql,
    "x12_shot_boundaries" -> x12Sql,
    "x10_tile_stats" -> x10Sql,
    "x09_vad_segments" -> x09Sql,
    "x06_image_neardup" -> x06Sql,
    "x07_phash_neardup" -> x07Sql,
    "x08_pcm_features" -> x08Sql,
    "x01_binary_meta" -> x01Sql,
    "x02_frame_sample" -> x02Sql,
    "x03_decode_features" -> x03Sql,
    "x04_resize_shape" -> x04Sql,
    "x05_shard_plan" -> x05Sql
  ).view
}
