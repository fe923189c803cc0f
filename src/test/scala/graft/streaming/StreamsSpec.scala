package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streaming-equals-batch: with Trigger.AvailableNow the streaming
  * operators must reproduce the batch answers exactly. */
class StreamsSpec extends SparkSpec {

  private val HourNs = 3600L * 1000 * 1000 * 1000

  test("windowed streaming aggregation equals batch groupBy") {
    val dir = sf("sf0.001")
    val streamed = Streams.windowedAgg(spark, dir)
      .orderBy("hour_bucket", "event_type").collect()
    val batch = graft.queries.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .withColumn("hour_bucket", expr(s"ts div $HourNs"))
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("value")).cast("float").as("sum_value"))
      .orderBy("hour_bucket", "event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("watermarked append-mode windows emit exactly the finalized batch windows") {
    val dir = sf("sf0.001")
    val streamed = Streams.windowedAggWatermarked(spark, dir, "2 hours")
      .selectExpr("window.start AS w_start", "event_type", "n_events", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val ev = graft.queries.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
    val maxTs = ev.agg(max(col("ts"))).head.getLong(0)
    val watermarkUs = maxTs / 1000 - 2L * 3600 * 1000 * 1000
    val batch = ev
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .filter(expr(s"unix_micros(window.end) <= $watermarkUs"))
      .selectExpr("window.start AS w_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streamed-only: ${streamed -- batch}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("durable parquet file sink with checkpoint round-trips the stream") {
    // the memory sink is test-harness-only; the always-on deployment
    // writes parquet with a checkpoint for exactly-once file commits
    val dir = sf("sf0.001")
    val out = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val q = stream.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val back = spark.read.parquet(out)
    val batch = graft.queries.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
    assert(back.count() == batch.count())
    assert(back.agg(sum(col("value"))).head.getDouble(0) ==
      batch.agg(sum(col("value"))).head.getDouble(0))
    // restarting against the same checkpoint with no new data writes nothing
    val q2 = stream.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == batch.count(),
      "restart re-emitted already-committed data")
  }

  test("streaming sessionization equals batch window-function sessionization") {
    val dir = sf("sf0.001")
    val gap = 8L * HourNs
    val streamed = Streams.sessionize(spark, dir, gap)
      .orderBy("user_id", "session_idx").collect()
    graft.queries.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet")).createOrReplaceTempView("ev_spec")
    val batch = spark.sql(
      s"""WITH marked AS (
         | SELECT user_id, ts, value,
         |  CASE WHEN LAG(ts) OVER w IS NULL OR ts - LAG(ts) OVER w > $gap
         |  THEN 1 ELSE 0 END AS new_sess
         | FROM ev_spec WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sess AS (
         | SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_idx
         | FROM marked)
         |SELECT user_id, session_idx, COUNT(*) AS n_events,
         | MIN(ts) AS ts_start, MAX(ts) AS ts_end
         |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0))   // user_id
      assert(s.getLong(1) == b.getLong(1))   // session_idx
      assert(s.getLong(2) == b.getLong(2))   // n_events
      assert(s.getLong(3) == b.getLong(3))   // ts_start
      assert(s.getLong(4) == b.getLong(4))   // ts_end
    }
  }

  test("native HLL aggregate runs under streaming and matches batch registers") {
    // mergeable-sketch + streaming composition: the TypedImperativeAggregate
    // participates in streaming state like any built-in agg — per-batch
    // partials merge into the state store by the element-wise max
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = sf("sf0.001")
    val schema = s2.read.parquet(s"$dir/events.parquet").schema
    val hashExpr = "((user_id * 1024 + ((CAST(floor(value * 10) AS BIGINT) % 1024 " +
      "+ 1024) % 1024)) * 2654435761) % 2147483647"
    val q = s2.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .groupBy(col("event_type"))
      .agg(expr(s"hll_registers($hashExpr, 9)").as("regs"))
      .writeStream.format("memory").queryName("spec_hll_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = s2.table("spec_hll_stream").orderBy("event_type").collect()
    val want = graft.queries.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .groupBy(col("event_type"))
      .agg(expr(s"hll_registers($hashExpr, 9)").as("regs"))
      .orderBy("event_type").collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getSeq[Int](1) == w.getSeq[Int](1))
    }
  }

  test("transformWithState running totals converge to the batch groupBy") {
    // Spark 4 arbitrary-state v2: explicit ValueState handles, TTL
    // config, update-mode emission. Requires the RocksDB state store,
    // which runningTotals sets itself
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = sf("sf0.001")
    val updates = Streams.runningTotals(s2, dir)
    // update mode may emit one row per key per micro-batch; the LAST
    // row per key is the converged total
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(monotonically_increasing_id().desc)
    val got = updates
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "n_events", "vm_sum", "vm_max")
      .orderBy("user_id").collect()
    val want = graft.queries.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .select(col("user_id"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("vm_sum"),
        max(col("vm")).as("vm_max"))
      .orderBy("user_id").collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w2) => assert(g == w2) }
  }

  test("crash-recovery golden: killed and restarted stateful dedup equals the batch oracle") {
    // The checkpoint contract across restarts: a stateful streaming
    // dedup (RocksDB state) is stopped MID-INPUT and resumed from its
    // checkpoint; the final sink must equal the uninterrupted batch
    // answer — exactly-once across the restart. The recovered state is
    // LOAD-BEARING, not incidental: file f2 duplicates rows first seen
    // in f0 (a different run, before the kill), so if the restart lost
    // RocksDB state the duplicates would be re-emitted and the count
    // assert below would fail.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = sf("sf0.001")
    val staging = java.nio.file.Files.createTempDirectory("graft_crash_in")
    val out = java.nio.file.Files.createTempDirectory("graft_crash_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_crash_ck").toString
    // base rows: unique event_id, canonical full row per id (so
    // "keep any" dedup is deterministic at the full-row level)
    val base = graft.queries.normalizeEventTs(
        s2.read.parquet(s"$dir/events.parquet"))
      .select(col("event_id"), col("event_type"), col("value"))
      .dropDuplicates("event_id")
      .localCheckpoint()
    val nBase = base.count()
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_slice").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, staging.resolve(name))
    }
    def slice(k: Int) = base.filter(col("event_id") % 4 === k)
    stage(slice(0), "f0.parquet")
    stage(slice(1), "f1.parquet")
    val schema = base.schema
    def start(trigger: org.apache.spark.sql.streaming.Trigger,
              onePerBatch: Boolean) = {
      val rs = s2.readStream.schema(schema)
      val src = (if (onePerBatch) rs.option("maxFilesPerTrigger", 1) else rs)
        .parquet(staging.toString)
      src.dropDuplicates("event_id")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(trigger).start()
    }
    // run 1: drain f0+f1, stop — state now holds their event_ids
    val q1 = start(org.apache.spark.sql.streaming.Trigger.AvailableNow(), false)
    q1.awaitTermination()
    // more input lands: f2 duplicates f0's rows, f3 is new
    stage(slice(2).union(slice(0)), "f2.parquet")
    stage(slice(3), "f3.parquet")
    // run 2: one file per micro-batch on a 60 s trigger — the first
    // batch fires immediately, then we KILL the query with the second
    // file still unprocessed (deterministically mid-input)
    val q2 = start(org.apache.spark.sql.streaming.Trigger
      .ProcessingTime("60 seconds"), true)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q2.recentProgress.count(_.numInputRows > 0) < 1 &&
        System.nanoTime() < deadline) Thread.sleep(100)
    q2.stop()
    // run 3: recover from the checkpoint, drain what remains
    val q3 = start(org.apache.spark.sql.streaming.Trigger.AvailableNow(), true)
    q3.awaitTermination()
    // golden check: sink == batch-distinct of everything staged == base
    val got = s2.read.parquet(out)
    assert(got.count() == nBase,
      s"exactly-once violated: sink has ${got.count()} rows, batch oracle $nBase")
    val batchOracle = s2.read.parquet(staging.toString).distinct()
    assert(got.exceptAll(batchOracle).isEmpty && batchOracle.exceptAll(got).isEmpty,
      "sink rows differ from the uninterrupted batch answer")
  }

  test("stateful aggregation runs on the RocksDB state store provider") {
    // the production state backend for large keyed state (heap stores
    // OOM once state outgrows the executor): same query, same answers,
    // state spilled to RocksDB. Fresh session so the static-ish provider
    // conf does not leak into other specs' checkpoints.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = sf("sf0.001")
    val got = Streams.windowedAgg(s2, dir)
      .orderBy("hour_bucket", "event_type").collect()
    val want = graft.queries.normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .withColumn("hour_bucket", expr(s"ts div $HourNs"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).cast("float").as("sum_value"))
      .orderBy("hour_bucket", "event_type").collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("the drive sets its state-store confs only while the stream runs") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val rocksDb =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val dir = sf("sf0.001")
    val plain = spark.newSession()
    val partitions = plain.conf.get("spark.sql.shuffle.partitions")
    assert(Streams.runningTotals(plain, dir).count() > 0)
    assert(!plain.conf.getAll.contains(provider), plain.conf.get(provider))
    assert(plain.conf.get("spark.sql.shuffle.partitions") == partitions)
    val rocks = spark.newSession()
    rocks.conf.set(provider, rocksDb)
    assert(Streams.windowedAgg(rocks, dir).count() > 0)
    assert(Streams.runningTotals(rocks, dir).count() > 0)
    assert(rocks.conf.get(provider) == rocksDb)
  }

  test("a drained stream leaves no sink view in the catalog, and its result keeps its rows") {
    val s2 = spark.newSession()
    val dir = sf("sf0.001")
    def run(q: String) = graft.SparkEntry.queries(q)(s2, dir).collect().toSeq
    val first = Seq("n01_stream_window_agg", "n05_stream_update_mode").map(run)
    val second = Seq("n01_stream_window_agg", "n05_stream_update_mode").map(run)
    val views = s2.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_stream_"))
    assert(views.isEmpty, views.mkString(", "))
    assert(first.forall(_.nonEmpty) && first == second)
  }
}
