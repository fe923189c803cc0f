package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming operators.
  *
  * The reference is batch-only (SURVEY.md §1.3); these are the natural
  * streaming extensions of its chunk-wise model: the per-chunk
  * `process()` becomes a micro-batch, the histogram fill becomes a
  * windowed stateful aggregation, and per-entity session state uses
  * `flatMapGroupsWithState`. Driven with `Trigger.AvailableNow` the
  * results are exactly the batch answers, which is what the DuckDB
  * oracle checks.
  *
  * Scale: state is keyed (bucket/user), so it shards across executors;
  * an always-on deployment would add a watermark to bound state — noted
  * where it applies.
  */
object Streams {

  /** Hour bucket from a nanosecond epoch (integer division — the ts
    * magnitude exceeds a double's 53-bit mantissa, so float division
    * would corrupt the bucket). */
  private val HourNs = 3600L * 1000 * 1000 * 1000

  /** Run `body` (which starts and drains a streaming query) with
    * `spark.sql.shuffle.partitions` = n, restoring the previous value
    * after. A stateful streaming query fixes its state-store shard count
    * from this setting at FIRST start (it persists in the checkpoint),
    * and Spark has no per-query setting for it — so it is sized here by
    * expected STATE, not by the session's batch shuffle width, which
    * `GraftSession` sets to the core count: a local AvailableNow drive
    * over test data wants a handful of partitions (each micro-batch
    * opens/commits one state store per partition), while an always-on
    * deployment with millions of keys wants hundreds. On a host with
    * fewer cores than `n` the shards outnumber the session's width.
    * Not thread-safe (session-global conf): no `RunPipeline` chain
    * starts a stream, and Verify and Bench run queries one at a time. */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Windowed weighted aggregation over a file stream: one row per
    * (hour, event_type) with count and value sum. Complete-mode memory
    * sink; AvailableNow processes the backlog and stops. */
  def windowedAgg(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file source needs a directory; glob-filter to the events table
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.queries.normalizeEventTs)
    val agg = stream
      .withColumn("hour_bucket", expr(s"ts div $HourNs"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).cast("float").as("sum_value"))
    val q = agg.writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Append-mode windowed aggregation with an event-time watermark —
    * the always-on deployment shape: state for a window is dropped once
    * the watermark passes its end, and only finalized windows are
    * emitted. With AvailableNow the watermark advances to
    * max(event_time) - delay at the batch boundary, so emitted windows
    * are exactly the batch windows strictly below that line (checked in
    * StreamsSpec). */
  /** HOPPING (sliding) windowed aggregation: 1-hour windows every
    * 15 minutes — each event lands in 4 overlapping windows, the state
    * shape tumbling windows never exercise. Milli-long quantization
    * keeps the overlapping sums order-free; Complete-mode memory sink,
    * AvailableNow ≡ the batch explode-4-hops answer. */
  def hoppingAgg(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.queries.normalizeEventTs)
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .withColumn("vm", expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)"))
    val agg = stream
      .groupBy(window(col("event_time"), "1 hour", "15 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("vm_sum"))
    val q = agg.writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  def windowedAggWatermarked(spark: SparkSession, dir: String, delay: String,
                             queryName: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.queries.normalizeEventTs)
    val agg = stream
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).cast("float").as("sum_value"))
    val q = agg.writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** First-class streaming session windows: the SAME
    * `session_window(ts, gap)` operator u03 runs in batch, under
    * readStream, where it maintains keyed session state and merges
    * overlapping windows per micro-batch. Session aggregation requires
    * a watermark; update mode is unsupported for session aggregations,
    * so the oracle-equivalent drive uses complete mode: the sink holds
    * the full merged session state after the single AvailableNow batch
    * — exactly the batch sessionization, u03's gaps-and-islands SQL. Sums use the exact
    * milli-scaled-long convention (a double fold is order-dependent
    * across engines). */
  def sessionWindowAgg(spark: SparkSession, dir: String, gap: String,
                       queryName: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.queries.normalizeEventTs)
    val agg = stream
      .select(col("user_id"),
        expr("timestamp_micros(ts div 1000)").as("event_time"),
        expr("CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .withWatermark("event_time", "0 seconds")
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("vm_sum"))
      .select(col("user_id"),
        expr("unix_micros(session_window.start)").as("ts_start_us"),
        expr("unix_micros(session_window.end)").as("ts_end_us"),
        col("n_events"),
        (col("vm_sum") / 1000.0).cast("float").as("sum_value"))
    val q = agg.writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Update-mode aggregation: emits rows whose aggregate changed per
    * batch — the low-latency dashboard sink. One AvailableNow batch
    * touches every group once, so the emitted set is the batch answer. */
  def updateModeAgg(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.queries.normalizeEventTs)
    val agg = stream.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).cast("float").as("sum_value"))
    val q = agg.writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming exact dedup: dropDuplicates on the content hash keyed by
    * state. In an always-on pipeline the watermark bounds how long a
    * hash is remembered; with AvailableNow the emitted hash set is
    * exactly the batch DISTINCT (which row carried the first arrival is
    * batch-order-dependent, so callers project the key columns). */
  def streamingDedup(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val deduped = stream
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicates("content_hash")
      .select(col("content_hash"))
    val q = deduped.writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Stream–stream interval join: purchases within `windowUs` after a
    * click by the same user. Both sides carry watermarks so the join
    * state is bounded; the time-range condition lets Spark expire rows
    * once the other side's watermark passes. AvailableNow emits exactly
    * the batch join result. */
  def streamStreamJoin(spark: SparkSession, dir: String, windowUs: Long,
                       queryName: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def src() = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.queries.normalizeEventTs)
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
    val clicks = src().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("event_time").as("c_time"))
      .withWatermark("c_time", "1 hour")
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_time") >= col("c_time") &&
        col("p_time") <= col("c_time") + expr(s"INTERVAL $windowUs MICROSECOND"))
    val q = joined
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        expr("unix_micros(p_time) - unix_micros(c_time)").as("lag_us"))
      .writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Stream–stream LEFT OUTER interval join: like streamStreamJoin, but
    * clicks with no purchase in the window are emitted with nulls — the
    * abandoned-funnel shape. Outer semantics make state eviction
    * VISIBLE: a null-extended row may only be emitted once the global
    * watermark (min across both inputs, each max(event_time) − delay)
    * has passed the click's entire match window, because until then a
    * matching purchase could still arrive. Clicks newer than that
    * cutoff are still in state when AvailableNow drains — correct
    * streaming behavior, and the oracle reproduces exactly that cutoff
    * rather than pretending the batch left join is the answer. */
  def streamStreamLeftOuter(spark: SparkSession, dir: String, windowUs: Long,
                            delay: String, queryName: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def src() = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.queries.normalizeEventTs)
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
    val clicks = src().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("event_time").as("c_time"))
      .withWatermark("c_time", delay)
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", delay)
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_time") >= col("c_time") &&
        col("p_time") <= col("c_time") + expr(s"INTERVAL $windowUs MICROSECOND"),
      "leftOuter")
    val q = joined
      .select(col("click_id"), col("purchase_id"),
        col("c_user").as("user_id"),
        expr("unix_micros(p_time) - unix_micros(c_time)").as("lag_us"))
      .writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Stream–static enrichment join: each micro-batch joins against a
    * static dimension table — STATELESS (unlike stream–stream joins, no
    * watermark or state store needed; the static side is just re-planned
    * per batch), which is why it is the preferred shape whenever the
    * right side is slowly-changing reference data. Broadcast by size. */
  def streamStaticJoin(spark: SparkSession, dir: String,
                       queryName: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.queries.normalizeEventTs)
    val dim = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    val joined = stream
      .withColumn("nat", col("user_id") % 25)
      .join(broadcast(dim), col("nat") === col("n_nationkey"))
      .select(col("event_id"), col("user_id"), col("n_name"))
    val q = joined.writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  final case class Ev(user_id: Long, ts: Long, event_id: Long, value: Double)
  /** `sum_value` is the natural double fold; `sum_value_milli` is the same
    * sum over round(value*1000) longs — exact and order-independent, so a
    * cross-engine comparison can't drift by a ulp with the fold order. */
  final case class Session(user_id: Long, session_idx: Long, n_events: Long,
                           ts_start: Long, ts_end: Long, sum_value: Double,
                           sum_value_milli: Long)

  /** Gap-based sessionization with flatMapGroupsWithState: a new session
    * starts when the inter-event gap exceeds `gapNs`. AvailableNow
    * delivers each user's full history in one batch; an always-on
    * deployment would use EventTimeTimeout + watermark to emit/expire. */
  def sessionize(spark: SparkSession, dir: String, gapNs: Long,
                 queryName: String): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.queries.normalizeEventTs)
      .select(col("user_id").cast("long"), col("ts").cast("long"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[Ev]
    val sessions = stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[Long]) =>
          // rows within a group are unordered; sort by (ts, event_id)
          val sorted = rows.toVector.sortBy(e => (e.ts, e.event_id))
          val out = Vector.newBuilder[Session]
          var idx = state.getOption.getOrElse(0L) - 1
          var cur: Vector[Ev] = Vector.empty
          def flush(): Unit = if (cur.nonEmpty) {
            out += Session(user, idx, cur.size.toLong,
              cur.head.ts, cur.last.ts, cur.iterator.map(_.value).sum,
              // floor(x+0.5), not math.round: mirrors the oracle's
              // FLOOR(value*1000 + 0.5) so both engines use the same
              // rounding rule at .5 boundaries (round is half-away-from-zero
              // in DuckDB but floor(x+0.5) in Scala — keep one convention)
              cur.iterator.map(e => math.floor(e.value * 1000 + 0.5).toLong).sum)
          }
          for (e <- sorted) {
            if (cur.isEmpty || e.ts - cur.last.ts > gapNs) {
              flush(); cur = Vector(e); idx += 1
            } else cur = cur :+ e
          }
          flush()
          state.update(idx + 1)
          out.result().iterator
      }
    val q = sessions.toDF().writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  final case class UserTotals(user_id: Long, n_events: Long, vm_sum: Long,
                              vm_max: Long)

  /** Per-user running totals on transformWithState (Spark 4's
    * arbitrary-state v2): explicit ValueState, update-mode emission of
    * the refreshed totals each micro-batch. This is the successor API
    * to flatMapGroupsWithState (typed state handles, TTL, timers,
    * multiple state variables per processor) and REQUIRES the RocksDB
    * state store provider — the caller sets it (see StreamsSpec).
    * Milli-long value quantization keeps the fold order-free, as
    * everywhere else in the repo. */
  private class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Ev, UserTotals] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[UserTotals] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        E.product[UserTotals], org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotals] = {
      val prev = Option(totals.get())
        .getOrElse(UserTotals(key, 0L, 0L, Long.MinValue))
      var (n, s, m) = (prev.n_events, prev.vm_sum, prev.vm_max)
      rows.foreach { e =>
        val vm = math.floor(e.value * 1000 + 0.5).toLong
        n += 1; s += vm; m = math.max(m, vm)
      }
      val next = UserTotals(key, n, s, m)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** Drive the transformWithState totals over the events backlog;
    * update-mode memory sink — the LAST row per user is the converged
    * total (equal to the batch groupBy; asserted in StreamsSpec). */
  def runningTotals(spark: SparkSession, dir: String,
                    queryName: String): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.queries.normalizeEventTs)
      .select(col("user_id").cast("long"), col("ts").cast("long"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[Ev]
    val out = stream.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    val q = out.toDF().writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }
}
