package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LogQuantileSketchSpec extends SparkSpec {

  /** Deterministic pseudo-random positive values (LCG on the index). */
  private def values(n: Int): Seq[Long] =
    (0 until n).map(i => ((i * 6364136223846793005L + 1442695040888963407L) >>> 24) % 1000000 + 1)

  private def sketchOf(vals: Seq[Long], parts: Int): Map[Int, Long] = {
    import spark.implicits._
    vals.toDF("v").repartition(parts)
      .agg(expr("qsketch_buckets(v)").as("m"))
      .selectExpr("explode(m)")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  test("bucket counts are invariant to partitioning (mergeable sketch)") {
    val vs = values(5000)
    val one = sketchOf(vs, 1)
    assert(sketchOf(vs, 7) === one)
    assert(sketchOf(vs, 32) === one)
    assert(one.values.sum === 5000L)
  }

  test("values below 8 are sketched exactly, one bucket per value") {
    val vs = Seq(1L, 1L, 2L, 3L, 5L, 7L, 7L, 7L)
    val sk = sketchOf(vs, 3)
    // lower bound of each occupied bucket reconstructs the exact value
    val recon = sk.map { case (idx, cnt) => LogQuantileSketch.lowerBound(idx) -> cnt }
    assert(recon === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 3L))
  }

  test("nulls and non-positive values are skipped") {
    import spark.implicits._
    val df = Seq[Option[Long]](Some(5L), None, Some(-3L), Some(0L), Some(9L))
      .toDF("v")
    val total = df.agg(expr("qsketch_buckets(v)").as("m"))
      .selectExpr("aggregate(map_values(m), 0L, (a, c) -> a + c) AS n")
      .collect().head.getLong(0)
    assert(total === 2L)
  }

  test("quantile answers stay within the gamma^2 relative-error bound") {
    val vs = values(20000)
    val sk = sketchOf(vs, 16).toSeq.sortBy(_._1)
    val total = sk.map(_._2).sum
    def sketchQuantile(num: Long, den: Long): Long = {
      var c = 0L
      val idx = sk.find { case (_, cnt) => c += cnt; c * den >= total * num }.get._1
      LogQuantileSketch.lowerBound(idx)
    }
    val sorted = vs.sorted
    for ((num, den) <- Seq((1L, 2L), (9L, 10L), (99L, 100L))) {
      val exact = sorted(((sorted.size * num + den - 1) / den).toInt - 1).toDouble
      val est = sketchQuantile(num, den).toDouble
      // answer is the bucket's LOWER bound: est ≤ exact·gamma, and the
      // bucket containing the quantile spans at most a gamma^2 ratio
      assert(est <= exact * 1.10 && est >= exact / 1.20,
        s"q=$num/$den est=$est exact=$exact")
    }
  }

  test("qsketch runs under streaming and matches the batch buckets") {
    // same composition guarantee as the HLL parity test: the
    // TypedImperativeAggregate's per-batch partials merge through the
    // state store exactly as map-side partials merge in batch
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = sf("sf0.001")
    val schema = s2.read.parquet(s"$dir/events.parquet").schema
    val agg = "qsketch_buckets(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))"
    val q = s2.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .groupBy(col("event_type"))
      .agg(expr(agg).as("m"))
      .writeStream.format("memory").queryName("spec_qsketch_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = s2.table("spec_qsketch_stream").orderBy("event_type")
      .collect().map(r => r.getString(0) -> r.getMap[Int, Long](1).toMap).toMap
    val want = graft.queries.normalizeEventTs(s2.read.parquet(s"$dir/events.parquet"))
      .groupBy(col("event_type")).agg(expr(agg).as("m"))
      .collect().map(r => r.getString(0) -> r.getMap[Int, Long](1).toMap).toMap
    assert(got === want && got.nonEmpty)
  }

  test("octave boundaries land in the right buckets") {
    // v = 2^k maps to sub=0 of octave k; v = 2^k - 1 to the top sub-bucket
    // of octave k-1 — the off-by-one that float-log bucketing gets wrong
    val sk = sketchOf(Seq(8L, 7L, 16L, 15L, 1024L, 1023L), 2)
    val lbs = sk.keySet.map(LogQuantileSketch.lowerBound)
    assert(lbs.contains(8L) && lbs.contains(7L) && lbs.contains(16L))
    assert(lbs.contains(1024L))
    // 15 = 0b1111 → msb 3, sub 7 → lower bound 15 itself
    assert(lbs.contains(15L))
    // 1023 = 0b1111111111 → msb 9, sub 7 → lower (8+7)<<6 = 960
    assert(lbs.contains(960L))
  }
}
