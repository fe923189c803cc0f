package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams
import graft.streaming.Streams.HourNs

/** Structured Streaming operators, oracle-checked: driven with
  * `Trigger.AvailableNow`, a streaming computation must produce exactly
  * the batch answer, so the DuckDB oracle is the batch SQL. Every query
  * runs its stream through `Streams`' one drive: a memory sink, 8 state
  * shards, and no conf left set afterwards. `Streams.runningTotals`
  * sets n09's RocksDB state store itself, so no builder here sets a
  * conf.
  */
object StreamQueries extends QueryFamily {

  private val GapNs = 8L * HourNs

  // ---- n01: streaming windowed aggregation -------------------------------
  private def n01(s: SparkSession, dir: String): DataFrame =
    Streams.windowedAgg(s, dir).orderBy(col("hour_bucket"), col("event_type"))
  private val n01Sql =
    s"""SELECT epoch_ns(ts) // $HourNs AS hour_bucket, event_type,
       | COUNT(*) AS n_events, CAST(SUM(value) AS REAL) AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- n02: stateful sessionization (flatMapGroupsWithState) -------------
  private def n02(s: SparkSession, dir: String): DataFrame =
    Streams.sessionize(s, dir, GapNs)
      // DuckDB's epoch_ns truncates to microseconds; emit micros on both.
      // sum_value comes from the exact milli-scaled long fold — a plain
      // double fold is order-dependent and DuckDB aggregates in its own
      // order, which flips the last ulp on some sessions.
      .select(col("user_id"), col("session_idx"), col("n_events"),
        expr("ts_start div 1000").as("ts_start_us"),
        expr("ts_end div 1000").as("ts_end_us"),
        (col("sum_value_milli") / 1000.0).cast("float").as("sum_value"))
      .orderBy(col("user_id"), col("session_idx"))
  private val n02Sql =
    s"""WITH x AS (
       | SELECT user_id, epoch_ns(ts) AS tsn, event_id, value FROM events),
       |marked AS (
       | SELECT *, CASE WHEN LAG(tsn) OVER w IS NULL
       |   OR tsn - LAG(tsn) OVER w > $GapNs THEN 1 ELSE 0 END AS new_sess
       | FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)),
       |sess AS (
       | SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsn, event_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_idx
       | FROM marked)
       |SELECT user_id, session_idx, COUNT(*) AS n_events,
       | MIN(tsn) // 1000 AS ts_start_us, MAX(tsn) // 1000 AS ts_end_us,
       | CAST(CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
       |      / 1000.0 AS REAL) AS sum_value
       |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- n03: streaming exact dedup ----------------------------------------
  // The streaming-native form of d01: state keyed by content hash,
  // emitted set equals the batch DISTINCT.
  private def n03(s: SparkSession, dir: String): DataFrame =
    Streams.streamingDedup(s, dir).orderBy(col("content_hash"))
  private val n03Sql =
    "SELECT DISTINCT md5(text) AS content_hash FROM documents ORDER BY 1"

  // ---- n04: stream-stream interval join ----------------------------------
  // Purchases within 4h after a same-user click; both sides watermarked
  // so join state is bounded. AvailableNow emits the batch join exactly.
  private val JoinWindowUs = 4L * 3600 * 1000 * 1000
  private def n04(s: SparkSession, dir: String): DataFrame =
    Streams.streamStreamJoin(s, dir, JoinWindowUs)
      .orderBy(col("click_id"), col("purchase_id"))
  private val n04Sql =
    s"""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       | c.user_id, epoch_ns(p.ts) // 1000 - epoch_ns(c.ts) // 1000 AS lag_us
       |FROM events c JOIN events p
       |  ON c.user_id = p.user_id
       | AND c.event_type = 'click' AND p.event_type = 'purchase'
       | AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
       | AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + $JoinWindowUs
       |ORDER BY 1, 2""".stripMargin

  // ---- n08: stream-stream LEFT OUTER interval join ------------------------
  // n04 plus the abandoned side: clicks with no purchase in-window emit
  // a null-extended row, but ONLY once the global watermark
  // (min(max click time, max purchase time) − 1h) has passed the
  // click's whole match window — before that a match could still
  // arrive, so the row is still in state when AvailableNow drains. The
  // oracle reproduces that cutoff explicitly; it is the streaming
  // semantics being checked, not the batch left join.
  private val OuterDelayUs = 3600L * 1000 * 1000 // "1 hour" watermark delay
  private def n08(s: SparkSession, dir: String): DataFrame =
    Streams.streamStreamLeftOuter(s, dir, JoinWindowUs, "1 hour")
      // null-extended rows as -1 sentinels: nullable int64 columns decay
      // to float64 in pandas-mediated hash compares (nulls force the
      // cast), so the dtype would differ between engines
      .select(col("click_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        col("user_id"),
        coalesce(col("lag_us"), lit(-1L)).as("lag_us"),
        col("purchase_id").isNotNull.as("matched"))
      .orderBy(col("click_id"), col("purchase_id"))
  private val n08Sql =
    s"""WITH c AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t
       |           FROM events WHERE event_type = 'click'),
       |p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t
       |      FROM events WHERE event_type = 'purchase'),
       |wm AS (SELECT LEAST((SELECT MAX(t) FROM c), (SELECT MAX(t) FROM p))
       |        - $OuterDelayUs AS w),
       |m AS (SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       |       c.user_id, p.t - c.t AS lag_us
       |      FROM c JOIN p ON c.user_id = p.user_id
       |       AND p.t >= c.t AND p.t <= c.t + $JoinWindowUs)
       |SELECT click_id, purchase_id, user_id, lag_us, TRUE AS matched FROM m
       |UNION ALL
       |SELECT c.event_id, CAST(-1 AS BIGINT), c.user_id, CAST(-1 AS BIGINT),
       | FALSE AS matched
       |FROM c CROSS JOIN wm
       |WHERE c.event_id NOT IN (SELECT click_id FROM m)
       | AND c.t + $JoinWindowUs < wm.w
       |ORDER BY 1, 2""".stripMargin

  // ---- n05: update-mode aggregation --------------------------------------
  // Update mode emits rows whose aggregate changed in the batch; with
  // AvailableNow every touched group is emitted once, so the result is
  // the batch aggregate — the low-latency sink shape for dashboards.
  private def n05(s: SparkSession, dir: String): DataFrame =
    Streams.updateModeAgg(s, dir).orderBy(col("event_type"))
  private val n05Sql =
    """SELECT event_type, COUNT(*) AS n_events,
      | CAST(SUM(value) AS REAL) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- n06: stream-static enrichment join --------------------------------
  // Stateless per-batch join to a dimension table — no watermark, no
  // state store; with AvailableNow the result is exactly the batch join.
  private def n06(s: SparkSession, dir: String): DataFrame =
    Streams.streamStaticJoin(s, dir).orderBy(col("event_id"))
  private val n06Sql =
    """SELECT event_id, user_id, n_name
      |FROM events JOIN nation ON user_id % 25 = n_nationkey
      |ORDER BY event_id""".stripMargin

  // ---- n07: first-class streaming session windows -------------------------
  // The declarative streaming complement to n02's flatMapGroupsWithState:
  // `session_window(ts, gap)` under readStream with keyed session state.
  // Update mode + one AvailableNow batch emits the batch sessionization,
  // so the oracle is u03's gaps-and-islands SQL (same split rule:
  // a gap STRICTLY greater than 8h starts a new session).
  private val SessGapUs = 8L * 3600 * 1000 * 1000
  private def n07(s: SparkSession, dir: String): DataFrame =
    Streams.sessionWindowAgg(s, dir, "8 hours")
      .orderBy(col("user_id"), col("ts_start_us"))
  private val n07Sql =
    s"""WITH x AS (
       | SELECT user_id, epoch_ns(ts) // 1000 AS us,
       |  CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vm
       | FROM events),
       |marked AS (
       | SELECT *, CASE WHEN LAG(us) OVER w IS NULL
       |   OR us - LAG(us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS new_sess
       | FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       |sess AS (
       | SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       | FROM marked)
       |SELECT user_id, MIN(us) AS ts_start_us, MAX(us) + $SessGapUs AS ts_end_us,
       | COUNT(*) AS n_events,
       | CAST(CAST(SUM(vm) AS BIGINT) / 1000.0 AS REAL) AS sum_value
       |FROM sess GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin

  // ---- n09: transformWithState running totals (arbitrary state v2) --------
  // Spark 4's successor API to flatMapGroupsWithState — explicit typed
  // ValueState handles on the RocksDB state store, update-mode emission
  // per micro-batch (Streams.RunningTotalsProcessor). Driven
  // AvailableNow, the LAST emission per user (max n_events — the count
  // strictly increases with every batch that touches the key) must
  // equal the batch groupBy exactly; milli-long value quantization
  // keeps the fold order-free, so the DuckDB oracle is the plain batch
  // aggregate. The per-user window is key-partitioned (distributed).
  private def n09(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)
    Streams.runningTotals(s, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("vm_sum"), col("vm_max"),
        expr("CAST(vm_sum / 1000.0 AS FLOAT)").as("sum_value"))
      .orderBy(col("user_id"))
  }
  private val n09Sql =
    """WITH q AS (
      | SELECT user_id, CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vm
      | FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      | CAST(SUM(vm) AS BIGINT) AS vm_sum, MAX(vm) AS vm_max,
      | CAST(CAST(SUM(vm) AS BIGINT) / 1000.0 AS REAL) AS sum_value
      |FROM q GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- n10: hopping (sliding) window aggregation ---------------------------
  // window(event_time, '1 hour', '15 minutes'): every event belongs to
  // FOUR overlapping windows — the streaming state shape tumbling
  // buckets never exercise. The batch oracle explodes each event into
  // its 4 hop starts (pure integer µs arithmetic, identical to Spark's
  // epoch-aligned slide assignment) and aggregates; AvailableNow must
  // reproduce it exactly.
  private def n10(s: SparkSession, dir: String): DataFrame =
    Streams.hoppingAgg(s, dir).select(expr("unix_micros(window.start)").as("win_start_us"),
        col("event_type"), col("n_events"),
        expr("CAST(vm_sum / 1000.0 AS FLOAT)").as("sum_value"))
      .orderBy(col("win_start_us"), col("event_type"))
  private val n10Sql =
    """WITH ev AS (
      | SELECT event_type, epoch_ns(ts) // 1000 AS us,
      |  CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vm
      | FROM events),
      |hops AS (
      | SELECT event_type, vm,
      |  ((us // 900000000) - k) * 900000000 AS win_start_us
      | FROM ev CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS k))
      |SELECT win_start_us, event_type, COUNT(*) AS n_events,
      | CAST(CAST(SUM(vm) AS BIGINT) / 1000.0 AS REAL) AS sum_value
      |FROM hops GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- n11: streaming trending top-k ---------------------------------------
  // The live-dashboard query: the streaming windowed aggregation keeps
  // per-(hour, type) counts in state (n01's machinery; complete-mode
  // memory sink), and the top-3-per-hour ranking runs over the
  // FINALIZED aggregate table — a window over aggregated (bounded)
  // input, so the per-hour rank never touches raw events. At deploy
  // scale the sink is a keyed store and the rank is the reader's query;
  // AvailableNow makes the whole pipeline ≡ the batch oracle.
  private val trendK = 3
  private def n11(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("hour_bucket"))
      .orderBy(col("n_events").desc, col("event_type").asc)
    Streams.windowedAgg(s, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= trendK)
      .select(col("hour_bucket"), col("rank"), col("event_type"),
        col("n_events"))
      .orderBy(col("hour_bucket"), col("rank"))
  }
  private val n11Sql =
    s"""WITH agg AS (
       | SELECT epoch_ns(ts) // $HourNs AS hour_bucket, event_type,
       |  COUNT(*) AS n_events
       | FROM events GROUP BY 1, 2)
       |SELECT hour_bucket, rank, event_type, n_events FROM (
       | SELECT hour_bucket, event_type, n_events,
       |  ROW_NUMBER() OVER (PARTITION BY hour_bucket
       |    ORDER BY n_events DESC, event_type ASC) AS rank
       | FROM agg)
       |WHERE rank <= $trendK
       |ORDER BY hour_bucket, rank""".stripMargin

  // ---- n12: stream-static join against a ROOT-ingested SF map --------------
  // The always-on deployment shape of the reference's correction
  // application: an event STREAM joins the (static, broadcast) TH2D
  // scale-factor map read natively from the reference's own ROOT file
  // (l14's map, through the `root-hist` connector) and aggregates
  // SF-weighted hourly yields. Stream-static joins are stateless — the
  // static side is planned once and broadcast into every micro-batch —
  // so AvailableNow must equal the batch answer exactly; per-event SF
  // is micro-quantized before summing (order-free longs). The oracle is
  // the batch SQL over the independently parsed literal map.
  private lazy val sfFixture =
    refData("muon_sf/year2018/RunABCD_SF_ID.root")
  private def n12(s: SparkSession, dir: String): DataFrame = {
    val sfMap = s.read.format("root-hist").option("path", sfFixture).load()
      .filter(col("hist") === "NUM_TightID_DEN_genTracks_pt_abseta" &&
        col("binx").between(1, 6) && col("biny").between(1, 4))
      .select(col("x_low"), col("x_high"), col("y_low"), col("y_high"),
        expr("CAST(FLOOR(content * 1000000.0 + 0.5) AS BIGINT)")
          .as("sf_micro"))
    val agg = Streams.source(s, dir, "events")
      .withColumn("pt", lit(20.0) + col("value") % 100.0)
      .withColumn("abseta", (col("user_id") % 24).cast("double") / 10.0)
      .join(broadcast(sfMap),
        col("pt") >= col("x_low") && col("pt") < col("x_high") &&
          col("abseta") >= col("y_low") && col("abseta") < col("y_high"))
      .withColumn("hour_bucket", expr(s"ts div $HourNs"))
      .groupBy(col("hour_bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("sf_micro")).as("sf_sum"))
    Streams.drain(agg, OutputMode.Complete())
      .select(col("hour_bucket"), col("n_events"), col("sf_sum"),
        (col("sf_sum").cast("double") / col("n_events") / 1000000.0)
          .cast("float").as("avg_sf"))
      .orderBy(col("hour_bucket"))
  }
  private val n12Sql =
    s"""WITH sfmap(x_low, x_high, y_low, y_high, sf) AS (VALUES
       |(20.0, 25.0, 0.0, 0.9, 0.9809958066072726), (25.0, 30.0, 0.0, 0.9, 0.9907079683443358),
       |(30.0, 40.0, 0.0, 0.9, 0.9940930519333433), (40.0, 50.0, 0.0, 0.9, 0.9924862189236762),
       |(50.0, 60.0, 0.0, 0.9, 0.9911617044225287), (60.0, 120.0, 0.0, 0.9, 0.9940931417433392),
       |(20.0, 25.0, 0.9, 1.2, 0.9927448660377257), (25.0, 30.0, 0.9, 1.2, 0.9817290215523836),
       |(30.0, 40.0, 0.9, 1.2, 0.98761982168), (40.0, 50.0, 0.9, 1.2, 0.9852413448471883),
       |(50.0, 60.0, 0.9, 1.2, 0.9814141639875774), (60.0, 120.0, 0.9, 1.2, 0.9845977669390539),
       |(20.0, 25.0, 1.2, 2.1, 1.0001274426420794), (25.0, 30.0, 1.2, 2.1, 0.9904054835527193),
       |(30.0, 40.0, 1.2, 2.1, 0.9907256636939671), (40.0, 50.0, 1.2, 2.1, 0.991264560433235),
       |(50.0, 60.0, 1.2, 2.1, 0.9894760750958966), (60.0, 120.0, 1.2, 2.1, 0.9891039904226423),
       |(20.0, 25.0, 2.1, 2.4, 0.9905134702464216), (25.0, 30.0, 2.1, 2.4, 0.9730892211605638),
       |(30.0, 40.0, 2.1, 2.4, 0.9769037952277815), (40.0, 50.0, 2.1, 2.4, 0.9759341667700446),
       |(50.0, 60.0, 2.1, 2.4, 0.9703150553676495), (60.0, 120.0, 2.1, 2.4, 0.9741669907616599)),
       |sfm AS (SELECT CAST(x_low AS DOUBLE) AS x_low, CAST(x_high AS DOUBLE) AS x_high,
       |        CAST(y_low AS DOUBLE) AS y_low, CAST(y_high AS DOUBLE) AS y_high,
       |        CAST(FLOOR(CAST(sf AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS sf_micro
       |        FROM sfmap),
       |ev AS (
       | SELECT epoch_ns(ts) // $HourNs AS hour_bucket,
       |  20.0 + value % 100.0 AS pt,
       |  CAST(user_id % 24 AS DOUBLE) / 10.0 AS abseta
       | FROM events)
       |SELECT hour_bucket, COUNT(*) AS n_events,
       | CAST(SUM(sf_micro) AS BIGINT) AS sf_sum,
       | CAST(CAST(SUM(sf_micro) AS DOUBLE) / COUNT(*) / 1000000.0 AS REAL) AS avg_sf
       |FROM ev JOIN sfm
       | ON pt >= x_low AND pt < x_high AND abseta >= y_low AND abseta < y_high
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- n13: watermark-delay audit -------------------------------------------
  // The sizing pass every Structured Streaming deployment needs before
  // picking `withWatermark(delay)`: replay the stream in a
  // DETERMINISTIC simulated arrival order (an LCG hash — events arrive
  // shuffled relative to event time, the disorder a watermark exists
  // to absorb), track the running max event time, and for each delay
  // candidate count the rows that would have been DROPPED (event time
  // older than watermark at arrival). Also reports the observed
  // disorder profile (max and p95 arrival lag) — the quantity Spark's
  // own watermark heuristic is chosen from. The exclusive running max
  // is the continuous-limit (strictest) form of Spark's per-microbatch
  // watermark, so the counts are an upper bound on real drops — the
  // safe direction for capacity planning.
  //
  // Scale: ONE window sort keyed by event_type (the per-topic/partition
  // shape), conditional-sum aggregation for all three delay candidates
  // in the same pass (the m06 fan-out discipline), exact interpolated
  // percentile per type (the a23 pairing). No collect, no global
  // window, integer nanoseconds end-to-end until the final ms casts.
  private val wmDelaysNs: Seq[Long] =
    Seq(60L * 1000000000L, 300L * 1000000000L, 900L * 1000000000L)
  private def n13(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("event_type"), col("ts"),
        // arrival = event time + a bounded LCG transport delay (< 30
        // min) — the realistic disorder model; a full shuffle would
        // make every row late at any delay and the audit degenerate
        (col("ts") + expr("(user_id * 2654435761 " +
          "+ CAST(floor(value * 1000) AS BIGINT)) % 1800000000000"))
          .as("arr"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("arr").asc, col("ts").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lagged = ev
      .withColumn("wm_ns", max(col("ts")).over(w)) // exclusive running max
      .withColumn("lag_ns",
        greatest(coalesce(col("wm_ns") - col("ts"), lit(0L)), lit(0L)))
    lagged.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("lag_ns")) / lit(1000000L)).cast("long").as("max_lag_ms"),
        expr("CAST(floor(percentile(lag_ns, CAST(0.95 AS DOUBLE)) / 1e6) AS BIGINT)")
          .as("p95_lag_ms"),
        org.apache.spark.sql.functions.sum(
          when(col("lag_ns") > lit(wmDelaysNs(0)), 1L).otherwise(0L)).as("late_1m"),
        org.apache.spark.sql.functions.sum(
          when(col("lag_ns") > lit(wmDelaysNs(1)), 1L).otherwise(0L)).as("late_5m"),
        org.apache.spark.sql.functions.sum(
          when(col("lag_ns") > lit(wmDelaysNs(2)), 1L).otherwise(0L)).as("late_15m"))
      .orderBy(col("event_type"))
  }
  private val n13Sql =
    s"""WITH ev AS (
       | SELECT event_type, epoch_ns(ts) AS ts,
       |  epoch_ns(ts) + (user_id * 2654435761
       |    + CAST(floor(value * 1000) AS BIGINT)) % 1800000000000 AS arr
       | FROM events),
       |lagged AS (
       | SELECT event_type,
       |  GREATEST(COALESCE(MAX(ts) OVER (PARTITION BY event_type
       |    ORDER BY arr ASC, ts ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - ts, 0), 0)
       |   AS lag_ns
       | FROM ev)
       |SELECT event_type,
       | COUNT(*) AS n_events,
       | CAST(MAX(lag_ns) // 1000000 AS BIGINT) AS max_lag_ms,
       | CAST(FLOOR(quantile_cont(lag_ns, CAST(0.95 AS DOUBLE)) / 1e6) AS BIGINT)
       |   AS p95_lag_ms,
       | CAST(SUM(CASE WHEN lag_ns > ${wmDelaysNs(0)} THEN 1 ELSE 0 END) AS BIGINT)
       |   AS late_1m,
       | CAST(SUM(CASE WHEN lag_ns > ${wmDelaysNs(1)} THEN 1 ELSE 0 END) AS BIGINT)
       |   AS late_5m,
       | CAST(SUM(CASE WHEN lag_ns > ${wmDelaysNs(2)} THEN 1 ELSE 0 END) AS BIGINT)
       |   AS late_15m
       |FROM lagged GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- n14: streaming inference with the reference's REAL trained DNN -------
  // The production model-serving shape: a micro-batch stream of events
  // scored by the ACTUAL trained VBF networks (all four .pt folds with
  // their .npy scalers, routed by the reference's event % 4 eval split
  // — m36's ensemble column) inside the stream's projection — the
  // forward pass is stateless column math, so it rides the stream for
  // free — then a Complete-mode aggregation to score deciles. At scale
  // this is exactly how a trained quality/filter model scores an
  // ingest stream: broadcast-free, shuffle only at the tiny decile
  // aggregation. Scores micro-quantize before the sum; oracle = the
  // batch SQL replay of the same four forward chains (the n-family
  // convention: streaming answers must equal the batch answers).
  private def n14(s: SparkSession, dir: String): DataFrame = {
    // the ensemble as a 4-way filtered UNION, not one 4-branch
    // CaseWhen: each branch is an m35-sized projection that stays in
    // whole-stage codegen; the single CaseWhen form compiled out of
    // codegen in the streaming plan and ran interpreted (measured
    // 84.7 s vs ~5 s at sf0.1 bench)
    val src = Streams.source(s, dir, "events").select(col("event_id"))
    val scored = (0 until 4).map { e =>
      val model = (e + 1) % 4
      src.filter(col("event_id") % 4 === e)
        .select(col("event_id"),
          MLQueries.vbfScoreFor(MLQueries.vbfH0For(model), model).as("score"))
    }.reduce(_ union _)
    val agg = scored
      .withColumn("decile",
        least(floor(col("score") * 10.0).cast("int"), lit(9)))
      .withColumn("score_micro",
        expr("CAST(FLOOR(score * 1000000.0 + 0.5) AS BIGINT)"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("score_micro")).as("score_micro_sum"))
    Streams.drain(agg, OutputMode.Complete()).orderBy(col("decile"))
  }
  private lazy val n14Sql = {
    val folds = (0 until 4).map { e =>
      val model = (e + 1) % 4
      val (inner, sigm) = MLQueries.vbfScoreSqlParts(
        s"(SELECT * FROM events WHERE event_id % 4 = $e)", "", model)
      s"SELECT $sigm AS score FROM ($inner)"
    }
    s"""WITH scored AS (
       | ${folds.mkString("\n UNION ALL\n ")})
       |SELECT LEAST(CAST(FLOOR(score * 10.0) AS INT), 9) AS decile,
       | COUNT(*) AS n_events,
       | CAST(SUM(CAST(FLOOR(score * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
       |  AS score_micro_sum
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "n13_watermark_audit" -> (n13 _),
    "n14_stream_dnn_scoring" -> (n14 _),
    "n12_stream_root_sf" -> (n12 _),
    "n11_stream_topk" -> (n11 _),
    "n10_stream_hopping" -> (n10 _),
    "n09_stream_running_totals" -> (n09 _),
    "n07_stream_session_window" -> (n07 _),
    "n06_stream_static_join" -> (n06 _),
    "n01_stream_window_agg" -> (n01 _),
    "n02_stream_sessionize" -> (n02 _),
    "n03_stream_dedup" -> (n03 _),
    "n04_stream_stream_join" -> (n04 _),
    "n05_stream_update_mode" -> (n05 _),
    "n08_stream_left_outer" -> (n08 _)
  )

  val oracle: collection.MapView[String, String] = withDeferred(Map(
    "n13_watermark_audit" -> n13Sql,
    "n12_stream_root_sf" -> n12Sql,
    "n10_stream_hopping" -> n10Sql,
    "n09_stream_running_totals" -> n09Sql,
    "n07_stream_session_window" -> n07Sql,
    "n06_stream_static_join" -> n06Sql,
    "n11_stream_topk" -> n11Sql,
    "n01_stream_window_agg" -> n01Sql,
    "n02_stream_sessionize" -> n02Sql,
    "n03_stream_dedup" -> n03Sql,
    "n04_stream_stream_join" -> n04Sql,
    "n05_stream_update_mode" -> n05Sql,
    "n08_stream_left_outer" -> n08Sql),
    "n14_stream_dnn_scoring" -> (() => n14Sql))
}
