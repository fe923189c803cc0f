package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
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
  * Every operator reads its table through [[source]] and runs through
  * one drive, [[drain]]: a memory sink, `AvailableNow`, and
  * [[StatePartitions]] state shards. The drive is the one place that
  * sets session confs, and it restores them when the stream ends.
  *
  * Scale: state is keyed (bucket/user), so it shards across executors;
  * an always-on deployment would add a watermark to bound state — noted
  * where it applies.
  */
object Streams {

  /** Hour bucket from a nanosecond epoch (integer division — the ts
    * magnitude exceeds a double's 53-bit mantissa, so float division
    * would corrupt the bucket). */
  private[graft] val HourNs = 3600L * 1000 * 1000 * 1000

  /** State shards of every drive: `spark.sql.shuffle.partitions` while a
    * stream runs. A stateful streaming query fixes its state-store shard
    * count from this setting at FIRST start (it persists in the
    * checkpoint), and Spark has no per-query setting for it — so it is
    * sized by expected STATE, not by the session's batch shuffle width,
    * which `GraftSession` sets to the core count. The test corpus has
    * tiny per-key state and each micro-batch opens and commits one store
    * per shard, so a handful is enough; a deployment with millions of
    * keys wants hundreds. */
  private val StatePartitions = 8

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val sinks = new AtomicInteger(0)

  /** `<table>.parquet` under `dir` as a file stream, with the batch
    * read's schema and `ts` normalized as in batch (tables without `ts`
    * pass unchanged). The file source needs a directory, so it reads
    * `dir` glob-filtered to the table's file. */
  private[graft] def source(spark: SparkSession, dir: String, table: String): DataFrame = {
    val file = s"$table.parquet"
    spark.readStream.schema(spark.read.parquet(s"$dir/$file").schema)
      .option("pathGlobFilter", file).parquet(dir)
      .transform(graft.queries.normalizeEventTs)
  }

  /** Runs `stream` to completion into a memory sink in `mode`
    * (`AvailableNow` processes the backlog and stops) and returns the
    * sink's rows. While it runs, the session has [[StatePartitions]]
    * shuffle partitions and, with `rocksDb`, the RocksDB state store
    * provider; Spark reads both when a streaming query first starts.
    * Both are restored afterwards, so a provider the caller set stays.
    * The sink's temp view is dropped once the result is built: the
    * result keeps its analysed plan and so its rows, and the catalog
    * does not collect one view per run. Not thread-safe (session-global
    * confs): no `RunPipeline` chain starts a stream, and Verify and
    * Bench run queries one at a time. */
  private[graft] def drain(stream: DataFrame, mode: OutputMode,
                           rocksDb: Boolean = false): DataFrame = {
    val spark = stream.sparkSession
    val confs = ("spark.sql.shuffle.partitions" -> StatePartitions.toString) +:
      (if (rocksDb) Seq(ProviderKey -> RocksDbProvider) else Nil)
    val explicit = spark.conf.getAll // keys set on the session, not defaults
    val prev = confs.map { case (k, _) => k -> explicit.get(k) }
    val name = s"graft_stream_${sinks.incrementAndGet()}"
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      stream.writeStream.format("memory").queryName(name).outputMode(mode)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      spark.table(name)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      spark.catalog.dropTempView(name)
    }
  }

  /** Windowed weighted aggregation over a file stream: one row per
    * (hour, event_type) with count and value sum. Complete mode. */
  def windowedAgg(spark: SparkSession, dir: String): DataFrame =
    drain(source(spark, dir, "events")
      .withColumn("hour_bucket", expr(s"ts div $HourNs"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).cast("float").as("sum_value")),
      OutputMode.Complete())

  /** HOPPING (sliding) windowed aggregation: 1-hour windows every
    * 15 minutes — each event lands in 4 overlapping windows, the state
    * shape tumbling windows never exercise. Milli-long quantization
    * keeps the overlapping sums order-free; complete mode,
    * AvailableNow ≡ the batch explode-4-hops answer. */
  def hoppingAgg(spark: SparkSession, dir: String): DataFrame =
    drain(source(spark, dir, "events")
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .withColumn("vm", expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)"))
      .groupBy(window(col("event_time"), "1 hour", "15 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("vm_sum")),
      OutputMode.Complete())

  /** Append-mode windowed aggregation with an event-time watermark —
    * the always-on deployment shape: state for a window is dropped once
    * the watermark passes its end, and only finalized windows are
    * emitted. With AvailableNow the watermark advances to
    * max(event_time) - delay at the batch boundary, so emitted windows
    * are exactly the batch windows strictly below that line (checked in
    * StreamsSpec). */
  def windowedAggWatermarked(spark: SparkSession, dir: String, delay: String): DataFrame =
    drain(source(spark, dir, "events")
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).cast("float").as("sum_value")),
      OutputMode.Append())

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
  def sessionWindowAgg(spark: SparkSession, dir: String, gap: String): DataFrame =
    drain(source(spark, dir, "events")
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
        (col("vm_sum") / 1000.0).cast("float").as("sum_value")),
      OutputMode.Complete())

  /** Update-mode aggregation: emits rows whose aggregate changed per
    * batch — the low-latency dashboard sink. One AvailableNow batch
    * touches every group once, so the emitted set is the batch answer. */
  def updateModeAgg(spark: SparkSession, dir: String): DataFrame =
    drain(source(spark, dir, "events").groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).cast("float").as("sum_value")),
      OutputMode.Update())

  /** Streaming exact dedup: dropDuplicates on the content hash keyed by
    * state. In an always-on pipeline the watermark bounds how long a
    * hash is remembered; with AvailableNow the emitted hash set is
    * exactly the batch DISTINCT (which row carried the first arrival is
    * batch-order-dependent, so callers project the key columns). */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame =
    drain(source(spark, dir, "documents")
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicates("content_hash")
      .select(col("content_hash")),
      OutputMode.Append())

  /** Purchases within `windowUs` after a click by the same user, as
    * (click_id, purchase_id, user_id, lag_us); both sides carry the
    * event-time watermark `delay`, and `joinType` is "inner" or
    * "leftOuter". */
  private def intervalJoin(spark: SparkSession, dir: String, windowUs: Long,
                           delay: String, joinType: String): DataFrame = {
    def side(eventType: String, id: String, user: String, time: String) =
      source(spark, dir, "events")
        .filter(col("event_type") === eventType)
        .select(col("event_id").as(id), col("user_id").as(user),
          expr("timestamp_micros(ts div 1000)").as(time))
        .withWatermark(time, delay)
    val clicks = side("click", "click_id", "c_user", "c_time")
    val purchases = side("purchase", "purchase_id", "p_user", "p_time")
    drain(clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_time") >= col("c_time") &&
          col("p_time") <= col("c_time") + expr(s"INTERVAL $windowUs MICROSECOND"),
        joinType)
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        expr("unix_micros(p_time) - unix_micros(c_time)").as("lag_us")),
      OutputMode.Append())
  }

  /** Stream–stream interval join: purchases within `windowUs` after a
    * click by the same user. Both sides carry watermarks so the join
    * state is bounded; the time-range condition lets Spark expire rows
    * once the other side's watermark passes. AvailableNow emits exactly
    * the batch join result. */
  def streamStreamJoin(spark: SparkSession, dir: String, windowUs: Long): DataFrame =
    intervalJoin(spark, dir, windowUs, "1 hour", "inner")

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
                            delay: String): DataFrame =
    intervalJoin(spark, dir, windowUs, delay, "leftOuter")

  /** Stream–static enrichment join: each micro-batch joins against a
    * static dimension table — STATELESS (unlike stream–stream joins, no
    * watermark or state store needed; the static side is just re-planned
    * per batch), which is why it is the preferred shape whenever the
    * right side is slowly-changing reference data. Broadcast by size. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    drain(source(spark, dir, "events")
      .withColumn("nat", col("user_id") % 25)
      .join(broadcast(dim), col("nat") === col("n_nationkey"))
      .select(col("event_id"), col("user_id"), col("n_name")),
      OutputMode.Append())
  }

  final case class Ev(user_id: Long, ts: Long, event_id: Long, value: Double)
  /** `sum_value` is the natural double fold; `sum_value_milli` is the same
    * sum over round(value*1000) longs — exact and order-independent, so a
    * cross-engine comparison can't drift by a ulp with the fold order. */
  final case class Session(user_id: Long, session_idx: Long, n_events: Long,
                           ts_start: Long, ts_end: Long, sum_value: Double,
                           sum_value_milli: Long)

  /** The events stream as typed [[Ev]] rows. */
  private def events(spark: SparkSession, dir: String): Dataset[Ev] = {
    import spark.implicits._
    source(spark, dir, "events")
      .select(col("user_id").cast("long"), col("ts").cast("long"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[Ev]
  }

  /** Gap-based sessionization with flatMapGroupsWithState: a new session
    * starts when the inter-event gap exceeds `gapNs`. AvailableNow
    * delivers each user's full history in one batch; an always-on
    * deployment would use EventTimeTimeout + watermark to emit/expire. */
  def sessionize(spark: SparkSession, dir: String, gapNs: Long): DataFrame = {
    import spark.implicits._
    val sessions = events(spark, dir)
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
    drain(sessions.toDF(), OutputMode.Append())
  }

  final case class UserTotals(user_id: Long, n_events: Long, vm_sum: Long,
                              vm_max: Long)

  /** Per-user running totals on transformWithState (Spark 4's
    * arbitrary-state v2): explicit ValueState, update-mode emission of
    * the refreshed totals each micro-batch. This is the successor API
    * to flatMapGroupsWithState (typed state handles, TTL, timers,
    * multiple state variables per processor) and REQUIRES the RocksDB
    * state store provider, which [[runningTotals]]' drive sets.
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

  /** Drive the transformWithState totals over the events backlog on
    * the RocksDB state store, on any session; update mode — the LAST
    * row per user is the converged total (equal to the batch groupBy;
    * asserted in StreamsSpec). */
  def runningTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = events(spark, dir).groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    drain(out.toDF(), OutputMode.Update(), rocksDb = true)
  }
}
