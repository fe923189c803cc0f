package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Temporal / reshaping operators Spark users reach for constantly:
  * as-of join, pivot, exact quantiles. The as-of join is the canonical
  * "operator Spark lacks natively" — composed here from a union + a
  * last-non-null window, which is ONE sort-shuffle keyed by
  * (entity, time) instead of the naive per-row subquery.
  */
object TemporalQueries extends QueryFamily {

  // ---- j10: as-of join ----------------------------------------------------
  // For each purchase, the most recent prior-or-equal click of the same
  // user. Union both sides tagged, one window sorted by (user, time),
  // last_value(click_id) ignoring nulls — O(n log n), single shuffle.
  private def j10(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val tagged = ev.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(col("event_type") === "click", col("event_id")).as("click_marker"))
    // order at microsecond resolution: the oracle's epoch_ns truncates
    // sub-microsecond digits, so ns-level ordering could diverge
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_click", last(col("click_marker"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      // no prior click -> -1 (avoid NULLs in the driver's hash compare)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        coalesce(col("asof_click"), lit(-1L)).as("asof_click"))
      .orderBy(col("purchase_id"))
  }
  private val j10Sql =
    """SELECT event_id AS purchase_id, user_id,
      | COALESCE(asof_click, -1) AS asof_click FROM (
      | SELECT user_id, event_id, event_type,
      |  LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000 ASC, event_id ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click
      | FROM events WHERE event_type IN ('click', 'purchase'))
      |WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin

  // ---- j12: as-of join via the NATIVE operator ----------------------------
  // Same as-of semantics as j10, but through graft's whole-operator
  // path (plans/AsOfJoin.scala): logical node → planner strategy →
  // merge-walk exec with declared distribution/ordering requirements.
  // Unlike j10's union+window trick this keeps the two sides' schemas
  // separate (LEFT-JOIN shape with NULL → -1 for no prior click) and
  // reads each side once, pre-sorted by the exchange. The oracle is an
  // independent SQL spelling (per-purchase argmax over eligible clicks),
  // so a match also proves the operator against a form that shares no
  // plan shape with it. Tie-break on click_id mirrors the repo's
  // rank-with-id-tie-break determinism convention.
  private def j12(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        expr("ts div 1000").as("p_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        expr("ts div 1000").as("c_us"))
    graft.plans.AsOf.join(purchases, clicks,
        col("user_id"), col("p_us"), col("c_user"), col("c_us"),
        Seq(col("click_id")))
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("asof_click"))
      .orderBy(col("purchase_id"))
  }
  private val j12Sql =
    """WITH c AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id
      |  FROM events WHERE event_type = 'purchase'),
      |best AS (
      | SELECT purchase_id, click_id FROM (
      |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |   ROW_NUMBER() OVER (PARTITION BY p.event_id
      |     ORDER BY c.us DESC, c.event_id DESC) AS rn
      |  FROM p JOIN c ON p.user_id = c.user_id AND c.us <= p.us)
      | WHERE rn = 1)
      |SELECT p.event_id AS purchase_id, p.user_id,
      | COALESCE(b.click_id, -1) AS asof_click
      |FROM p LEFT JOIN best b ON p.event_id = b.purchase_id
      |ORDER BY 1""".stripMargin

  // ---- u03: session_window gap sessionization ------------------------------
  // Spark's FIRST-CLASS session operator (`session_window(ts, gap)`): the
  // declarative complement to n02's stateful flatMapGroupsWithState form —
  // one groupBy, codegen'd session merge, and the same operator runs
  // unchanged under readStream (where it maintains keyed session state).
  // Spark merges an event into a session while event_ts < session_end
  // (= last_ts + gap), i.e. a gap STRICTLY greater than `gap` splits —
  // the oracle mirrors exactly that split rule. Session end is
  // last_ts + gap by definition on both sides; sums use the milli-long
  // convention. Gap = 8h over µs-truncated timestamps (same as n02).
  private val GapUs = 8L * 3600 * 1000 * 1000
  private def u03(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    ev.select(col("user_id"),
        expr("timestamp_micros(ts div 1000)").as("event_time"),
        expr("CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .groupBy(col("user_id"), session_window(col("event_time"), "8 hours"))
      .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("vm_sum"))
      .select(col("user_id"),
        expr("unix_micros(session_window.start)").as("ts_start_us"),
        expr("unix_micros(session_window.end)").as("ts_end_us"),
        col("n_events"),
        (col("vm_sum") / 1000.0).cast("float").as("sum_value"))
      .orderBy(col("user_id"), col("ts_start_us"))
  }
  private val u03Sql =
    s"""WITH x AS (
       | SELECT user_id, epoch_ns(ts) // 1000 AS us,
       |  CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vm
       | FROM events),
       |marked AS (
       | SELECT *, CASE WHEN LAG(us) OVER w IS NULL
       |   OR us - LAG(us) OVER w > $GapUs THEN 1 ELSE 0 END AS new_sess
       | FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       |sess AS (
       | SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       | FROM marked)
       |SELECT user_id, MIN(us) AS ts_start_us, MAX(us) + $GapUs AS ts_end_us,
       | COUNT(*) AS n_events,
       | CAST(CAST(SUM(vm) AS BIGINT) / 1000.0 AS REAL) AS sum_value
       |FROM sess GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin

  // ---- j11: bucketed range join -------------------------------------------
  // Point-in-interval join done scalably: a plain `lo <= v AND v < hi`
  // join has no equi-key, so Spark must BroadcastNestedLoopJoin — O(n·m)
  // probe work even when broadcast. Pre-exploding each interval to the
  // fixed-width buckets it spans turns it into an EQUI-join on bucket id
  // with the range predicate as a residual filter — the standard range-
  // join optimization (a hash probe per row instead of m comparisons).
  // The oracle is the UNBUCKETED range join: equal results prove the
  // bucket decomposition is lossless. PlanSpec asserts the hash join.
  // POWER OF TWO on purpose: floor(value / 16) divides exactly in
  // binary doubles, so the point-side bucket can never round across a
  // boundary the interval side computed with integer div. A non-power-
  // of-two width would need the d07-style integer cross-multiplied form.
  private val rjBucket = 16
  /** ~60 overlapping [lo, hi) integer intervals over value ∈ [0, 490]. */
  private val rjIntervals: Seq[(String, Int, Int)] =
    (0 until 60).map(k => (s"iv$k", k * 8, k * 8 + 8 + (k % 3) * 12))
  private def j11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = rd(s, dir, "events")
    val iv = rjIntervals.toDF("tag", "lo", "hi")
      .select(col("tag"), col("lo"), col("hi"),
        explode(expr(s"sequence(lo div $rjBucket, (hi - 1) div $rjBucket)")).as("bucket"))
    ev.select(col("event_id"), col("value"),
        floor(col("value") / rjBucket).cast("int").as("bucket"))
      .join(broadcast(iv), Seq("bucket"))
      .filter(col("value") >= col("lo") && col("value") < col("hi"))
      .select(col("event_id"), col("tag"), col("value").cast("float").as("value"))
      .orderBy(col("event_id"), col("tag"))
  }
  private val j11Sql = {
    val values = rjIntervals.map { case (t, lo, hi) => s"('$t', $lo, $hi)" }.mkString(", ")
    s"""SELECT event_id, tag, CAST(value AS REAL) AS value
       |FROM events JOIN (VALUES $values) AS iv(tag, lo, hi)
       |  ON value >= lo AND value < hi
       |ORDER BY event_id, tag""".stripMargin
  }

  // ---- r10: pivot (long -> wide) ------------------------------------------
  // Per-user counts per event type as columns. Spark's pivot with an
  // explicit value list is a single groupBy; the oracle spells the same
  // thing as conditional sums.
  private val pivotTypes = Seq("click", "view", "purchase", "signup", "error")
  private def r10(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    ev.groupBy(col("user_id"))
      .pivot("event_type", pivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))
  }
  private val r10Sql = {
    // COUNT (BIGINT), not SUM: DuckDB SUM returns HUGEINT which the driver's
    // pandas bridge widens to float64 and the hash sees "3.0" vs Spark's "3"
    val cols = pivotTypes.map(t =>
      s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS \"$t\"").mkString(", ")
    s"SELECT user_id, $cols FROM events GROUP BY 1 ORDER BY 1"
  }

  // ---- u01: ordered funnel --------------------------------------------------
  // Per-user funnel progression click → view → purchase using FIRST
  // occurrences: one groupBy with conditional MINs (no self-joins, no
  // per-step passes), stage = how far the ordered chain holds. Times
  // emitted in µs (oracle's epoch_ns truncates).
  private def u01(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val per = ev.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "click", expr("ts div 1000"))).as("t_click_us"),
      min(when(col("event_type") === "view", expr("ts div 1000"))).as("t_view_us"),
      min(when(col("event_type") === "purchase", expr("ts div 1000"))).as("t_purchase_us"))
    val stage =
      when(col("t_click_us").isNull, 0)
        .when(col("t_view_us").isNull || col("t_view_us") <= col("t_click_us"), 1)
        .when(col("t_purchase_us").isNull || col("t_purchase_us") <= col("t_view_us"), 2)
        .otherwise(3)
    per.select(col("user_id"), col("t_click_us"), col("t_view_us"),
        col("t_purchase_us"), stage.as("funnel_stage"))
      .orderBy(col("user_id"))
  }
  private val u01Sql =
    """WITH per AS (
      | SELECT user_id,
      |  MIN(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000 END) AS t_click_us,
      |  MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) // 1000 END) AS t_view_us,
      |  MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000 END) AS t_purchase_us
      | FROM events GROUP BY 1)
      |SELECT user_id, t_click_us, t_view_us, t_purchase_us,
      | CASE WHEN t_click_us IS NULL THEN 0
      |      WHEN t_view_us IS NULL OR t_view_us <= t_click_us THEN 1
      |      WHEN t_purchase_us IS NULL OR t_purchase_us <= t_view_us THEN 2
      |      ELSE 3 END AS funnel_stage
      |FROM per ORDER BY user_id""".stripMargin

  // ---- u02: cohort retention ------------------------------------------------
  // Users cohorted by first-seen day; retained-at-7d = any event in
  // [cohort_day+7, cohort_day+8). Two aggregations, both map-side
  // partial; COUNT(CASE..) keeps the oracle BIGINT (SUM would be
  // HUGEINT → float64 in the driver's hash).
  private val DayUs = 86400L * 1000 * 1000
  private def u02(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("ts_us"))
    // integer `div`, not Column./ (double division could round across a
    // day boundary that DuckDB's // floors exactly)
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(expr(s"min(ts_us) div $DayUs").as("cohort_day"))
    val joined = ev.join(firstSeen, "user_id")
      .withColumn("day_off", expr(s"ts_us div $DayUs") - col("cohort_day"))
    val perUser = joined.groupBy(col("user_id"), col("cohort_day"))
      .agg(max(when(col("day_off") === 7, 1).otherwise(0)).as("retained7"))
    perUser.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"),
           count(when(col("retained7") === 1, lit(1))).as("n_retained7"))
      .orderBy(col("cohort_day"))
  }
  private val u02Sql =
    s"""WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
       |fs AS (
       | SELECT user_id, CAST(MIN(ts_us) // $DayUs AS BIGINT) AS cohort_day
       | FROM ev GROUP BY 1),
       |per_user AS (
       | SELECT e.user_id, cohort_day,
       |  MAX(CASE WHEN CAST(ts_us // $DayUs AS BIGINT) - cohort_day = 7
       |      THEN 1 ELSE 0 END) AS retained7
       | FROM ev e JOIN fs USING (user_id) GROUP BY 1, 2)
       |SELECT cohort_day, COUNT(*) AS n_users,
       | COUNT(CASE WHEN retained7 = 1 THEN 1 END) AS n_retained7
       |FROM per_user GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- a20: running distinct count (window) --------------------------------
  // "How many distinct event types has this user produced so far" —
  // Spark does NOT support COUNT(DISTINCT) over a window frame; the
  // idiomatic re-expression is size(collect_set() OVER ...), which keeps
  // the per-partition state bounded by the type cardinality. The oracle
  // uses DuckDB's native windowed DISTINCT aggregate — two different
  // mechanisms, same semantics.
  private def a20(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
        size(collect_set(col("event_type")).over(w)).cast("long").as("n_types_seen"))
      .orderBy(col("event_id"))
  }
  private val a20Sql =
    """SELECT event_id, user_id,
      | COUNT(DISTINCT event_type) OVER (PARTITION BY user_id
      |   ORDER BY epoch_ns(ts) // 1000 ASC, event_id ASC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_types_seen
      |FROM events ORDER BY event_id""".stripMargin

  // ---- a18: exact interpolated quantiles ----------------------------------
  // Exact (not approximate) median and p90 per group — both engines use
  // the same linear-interpolation definition.
  private def a18(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    ev.groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").cast("float").as("median_value"),
        expr("percentile(value, 0.9)").cast("float").as("p90_value"))
      .orderBy(col("event_type"))
  }
  private val a18Sql =
    """SELECT event_type,
      | CAST(quantile_cont(value, 0.5) AS REAL) AS median_value,
      | CAST(quantile_cont(value, 0.9) AS REAL) AS p90_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- a19: RANGE-frame moving aggregate ----------------------------------
  // Per-user trailing-1-hour sum — a value-based (RANGE) frame, which
  // unlike ROWS frames includes ties and gaps correctly and is
  // deterministic without a tie-break.
  private val RangeUs = 3600L * 1000 * 1000
  private def a19(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000"))
      .rangeBetween(-RangeUs, Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
        sum(col("value")).over(w).cast("float").as("trailing_1h_sum"))
      .orderBy(col("event_id"))
  }
  private val a19Sql =
    s"""SELECT event_id, user_id,
       | CAST(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
       |   RANGE BETWEEN $RangeUs PRECEDING AND CURRENT ROW) AS REAL) AS trailing_1h_sum
       |FROM events ORDER BY event_id""".stripMargin

  // ---- r11: unpivot / stack (wide -> long) --------------------------------
  // SURVEY §2.7: the JES-variant fan-out is a stack/unpivot — one row
  // per (entity, variant) from variant columns, single pass, no join.
  private def r11(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
    val wide = li.groupBy(col("l_orderkey")).agg(
      sum(col("l_extendedprice")).as("nominal"),
      (sum(col("l_extendedprice")) * 1.02).as("jes_up"),
      (sum(col("l_extendedprice")) * 0.98).as("jes_down"))
    wide.select(col("l_orderkey"),
        expr("""stack(3, 'nominal', nominal, 'jes_up', jes_up, 'jes_down', jes_down)
                AS (variation, total)""").as(Seq("variation", "total")))
      .select(col("l_orderkey"), col("variation"), col("total").cast("float").as("total"))
      .orderBy(col("l_orderkey"), col("variation"))
  }
  private val r11Sql =
    """WITH wide AS (
      | SELECT l_orderkey, SUM(l_extendedprice) AS nominal,
      |  SUM(l_extendedprice) * 1.02 AS jes_up,
      |  SUM(l_extendedprice) * 0.98 AS jes_down
      | FROM lineitem GROUP BY 1)
      |SELECT l_orderkey, 'nominal' AS variation, CAST(nominal AS REAL) AS total FROM wide
      |UNION ALL
      |SELECT l_orderkey, 'jes_up', CAST(jes_up AS REAL) FROM wide
      |UNION ALL
      |SELECT l_orderkey, 'jes_down', CAST(jes_down AS REAL) FROM wide
      |ORDER BY 1, 2""".stripMargin

  // ---- t07: text normalization --------------------------------------------
  // lowercase, collapse whitespace, strip non-alphanumerics — the
  // canonical pre-dedup normalization pass.
  private def t07(s: SparkSession, dir: String): DataFrame = {
    val d = rd(s, dir, "documents")
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    d.select(col("doc_id"), length(norm).as("norm_len"),
        substring(norm, 1, 40).as("norm_prefix"))
      .orderBy(col("doc_id"))
  }
  private val t07Sql =
    """SELECT doc_id,
      | length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_len,
      | substr(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 40) AS norm_prefix
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- u04: CDC changelog apply --------------------------------------------
  // Materialize current state from a change stream: events are a keyed
  // changelog (signup = insert, click/view/purchase = update, error =
  // delete tombstone); the applied table is the LAST operation per key
  // in (ts, event_id) order, with deleted keys absent. One shuffle
  // (key-partitioned window, WindowGroupLimit keeps only the top row
  // per key before the full sort materializes); version counts how many
  // ops the key absorbed. This is the batch form of the merge every
  // incremental pipeline runs on a changelog table.
  private def u04(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    e.select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"),
        col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("us").as("last_us"),
        col("event_type").as("last_op"),
        col("value").cast("float").as("value"),
        col("n_ops"))
      .orderBy(col("user_id"))
  }
  private val u04Sql =
    """WITH log AS (
      | SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
      |  event_type, value,
      |  ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn,
      |  COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      | FROM events)
      |SELECT user_id, us AS last_us, event_type AS last_op,
      | CAST(value AS REAL) AS value, n_ops
      |FROM log WHERE rn = 1 AND event_type != 'error'
      |ORDER BY user_id""".stripMargin

  // ---- u05: first/last-touch attribution ----------------------------------
  // Marketing-attribution shape: for every purchase, credit the FIRST
  // and LAST same-user click within the preceding 24 h. One user-keyed
  // interval join (clicks only move once), then two row_number
  // orderings over the SAME purchase partitioning — one exchange, two
  // in-partition sorts — folded to one row per purchase with
  // conditional aggregates. Ties at equal timestamps break by click id
  // on both engines. Purchases with no in-window click are dropped by
  // the inner join (the unattributed side is n08's territory).
  private val TouchWindowUs = 24L * 3600 * 1000 * 1000
  private def u05(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        expr("ts div 1000").as("pt"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("cu"),
        expr("ts div 1000").as("ct"))
    val j = p.join(c, col("pu") === col("cu") &&
      col("ct") <= col("pt") && col("ct") >= col("pt") - TouchWindowUs)
    val part = Window.partitionBy(col("purchase_id"))
    val rnF = row_number().over(part.orderBy(col("ct").asc, col("cid").asc))
    val rnL = row_number().over(part.orderBy(col("ct").desc, col("cid").desc))
    j.withColumn("rn_f", rnF).withColumn("rn_l", rnL)
      .groupBy(col("purchase_id"), col("pu"), col("pt"))
      .agg(count(lit(1)).as("n_touches"),
        max(when(col("rn_f") === 1, col("cid"))).as("first_click_id"),
        max(when(col("rn_f") === 1, col("ct"))).as("first_ct"),
        max(when(col("rn_l") === 1, col("cid"))).as("last_click_id"),
        max(when(col("rn_l") === 1, col("ct"))).as("last_ct"))
      .select(col("purchase_id"), col("pu").as("user_id"), col("n_touches"),
        col("first_click_id"), col("last_click_id"),
        (col("pt") - col("first_ct")).as("first_lag_us"),
        (col("pt") - col("last_ct")).as("last_lag_us"))
      .orderBy(col("purchase_id"))
  }
  private val u05Sql =
    s"""WITH p AS (SELECT event_id AS purchase_id, user_id AS pu,
       |            epoch_ns(ts) // 1000 AS pt
       |           FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT event_id AS cid, user_id AS cu, epoch_ns(ts) // 1000 AS ct
       |      FROM events WHERE event_type = 'click'),
       |j AS (
       | SELECT *,
       |  ROW_NUMBER() OVER (PARTITION BY purchase_id ORDER BY ct ASC, cid ASC) AS rn_f,
       |  ROW_NUMBER() OVER (PARTITION BY purchase_id ORDER BY ct DESC, cid DESC) AS rn_l
       | FROM p JOIN c ON pu = cu AND ct <= pt AND ct >= pt - $TouchWindowUs)
       |SELECT purchase_id, pu AS user_id, COUNT(*) AS n_touches,
       | MAX(CASE WHEN rn_f = 1 THEN cid END) AS first_click_id,
       | MAX(CASE WHEN rn_l = 1 THEN cid END) AS last_click_id,
       | MAX(pt) - MAX(CASE WHEN rn_f = 1 THEN ct END) AS first_lag_us,
       | MAX(pt) - MAX(CASE WHEN rn_l = 1 THEN ct END) AS last_lag_us
       |FROM j GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---- u06: time-spine gap fill + forward fill -----------------------------
  // The resampling primitive behind every time-series feature pipeline:
  // densify each user's activity onto a daily spine (sequence + explode
  // — a generator, no join against a calendar table) and forward-fill
  // the last observed daily total across gap days with a last-non-null
  // window. Day arithmetic stays in integer epoch-day space (ts is
  // nanos) and per-row values are quantized to milli-longs BEFORE the
  // daily sum, so the fold is order-free — the repo's standard
  // cross-engine float discipline (see n02/s06).
  //
  // Scale: the spine explode multiplies rows by span/user (bounded by
  // the date range, not the data); the single window sort is keyed by
  // user — the same one-shuffle shape as sessionization. No collect,
  // no calendar broadcast.
  private val nsPerDay = 86400000000000L
  private def u06(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val daily = ev
      .select(col("user_id"), expr(s"ts div $nsPerDay").as("day"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("vm")).as("day_vm"), count(lit(1)).as("n_events"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_vm", last(col("day_vm"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("day"),
        coalesce(col("day_vm"), lit(-1L)).as("day_vm"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("filled_vm"),
        col("day_vm").isNull.as("is_gap"))
      .orderBy(col("user_id"), col("day"))
  }
  private val u06Sql =
    s"""WITH daily AS (
       | SELECT user_id, epoch_ns(ts) // $nsPerDay AS day,
       |  CAST(SUM(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS day_vm,
       |  COUNT(*) AS n_events
       | FROM events GROUP BY 1, 2),
       |spine AS (
       | SELECT user_id, UNNEST(generate_series(MIN(day), MAX(day))) AS day
       | FROM daily GROUP BY user_id)
       |SELECT s.user_id, s.day,
       | COALESCE(d.day_vm, -1) AS day_vm,
       | COALESCE(d.n_events, 0) AS n_events,
       | LAST_VALUE(d.day_vm IGNORE NULLS)
       |   OVER (PARTITION BY s.user_id ORDER BY s.day ASC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_vm,
       | d.day_vm IS NULL AS is_gap
       |FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
       |ORDER BY s.user_id, s.day""".stripMargin

  // ---- u07: OHLC resample (downsample to hourly bars) ----------------------
  // Classic tick -> bar resampling: per (user, hour) take the first
  // value (open), last value (close), min/max (low/high) and the event
  // count. Open/close are PICKS (row_number on the (ts, event_id)
  // order, both directions over ONE partitioning — one shuffle, two
  // window passes), min/max are exact — no float folds anywhere, so no
  // quantization is needed.
  private val nsPerHour = 3600000000000L
  private def u07(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        expr(s"ts div $nsPerHour").as("hour"))
    val wA = Window.partitionBy(col("user_id"), col("hour"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val wD = Window.partitionBy(col("user_id"), col("hour"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("rn_a", row_number().over(wA))
      .withColumn("rn_d", row_number().over(wD))
      .groupBy(col("user_id"), col("hour"))
      .agg(
        count(lit(1)).as("n"),
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"))
      .orderBy(col("user_id"), col("hour"))
  }
  private val u07Sql =
    s"""WITH base AS (
       | SELECT user_id, epoch_ns(ts) // $nsPerHour AS hour, value,
       |  ROW_NUMBER() OVER (PARTITION BY user_id, epoch_ns(ts) // $nsPerHour
       |    ORDER BY epoch_ns(ts) ASC, event_id ASC) AS rn_a,
       |  ROW_NUMBER() OVER (PARTITION BY user_id, epoch_ns(ts) // $nsPerHour
       |    ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn_d
       | FROM events)
       |SELECT user_id, hour, COUNT(*) AS n,
       | MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       | MAX(value) AS high, MIN(value) AS low,
       | MAX(CASE WHEN rn_d = 1 THEN value END) AS close
       |FROM base GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- u08: peak concurrency (sweep line) ----------------------------------
  // Interval-overlap aggregation: each event opens a session of
  // value-derived length; the classic sweep line (+1 at start, -1 at
  // end, running sum over one global (t, delta) order) yields exact
  // concurrency, and a per-day max reports the daily peak. Half-open
  // [start, end) semantics: at equal t the -1 sorts first. The running
  // sum is a TWO-PHASE prefix sum (the g06 shape): a per-day window
  // (distributed — partitioned by day) computes local running sums, a
  // prefix over the tiny per-day totals table yields each day's
  // carried-in offset, and the exact global running sum is
  // offset + local. No Exchange SinglePartition anywhere: the only
  // unpartitioned window runs over the day-count-sized totals table.
  // Session length derives from the milli-quantized value so every
  // comparison is integer.
  private def u08(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("event_id"), col("ts"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .withColumn("dur_ns", (col("vm") % 30 + 1) * lit(60000000000L))
    val deltas = ev.select(col("ts").as("t"), lit(1).as("delta"), col("event_id"))
      .unionAll(ev.select((col("ts") + col("dur_ns")).as("t"),
        lit(-1).as("delta"), col("event_id")))
      .withColumn("day", expr(s"t div $nsPerDay"))
    val wLocal = Window.partitionBy(col("day"))
      .orderBy(col("t").asc, col("delta").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrefix = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = deltas.groupBy(col("day"))
      .agg(sum(col("delta")).cast("long").as("day_sum"))
      .withColumn("carry", coalesce(sum(col("day_sum")).over(wPrefix), lit(0L)))
      .select(col("day"), col("carry"))
    deltas.withColumn("local", sum(col("delta")).over(wLocal))
      .join(broadcast(offsets), Seq("day"))
      .withColumn("conc", col("carry") + col("local"))
      .groupBy(col("day"))
      .agg(max(col("conc")).as("peak_concurrency"),
        sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_starts"))
      .orderBy(col("day"))
  }
  private val u08Sql =
    s"""WITH ev AS (
       | SELECT event_id, epoch_ns(ts) AS t,
       |  (CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) % 30 + 1) * 60000000000 AS dur_ns
       | FROM events),
       |deltas AS (
       | SELECT t, 1 AS delta, event_id FROM ev
       | UNION ALL
       | SELECT t + dur_ns AS t, -1 AS delta, event_id FROM ev),
       |swept AS (
       | SELECT t // $nsPerDay AS day, delta,
       |  CAST(SUM(delta) OVER (ORDER BY t ASC, delta ASC, event_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
       | FROM deltas)
       |SELECT day, MAX(conc) AS peak_concurrency,
       | CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
       |FROM swept GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- j13: interval-overlap self join -------------------------------------
  // Sessions (from u08's value-derived durations) that OVERLAP in time
  // for the same user — the interval×interval generalization of j11's
  // point-in-range join. Spark has no native interval join; the naive
  // theta join is a per-user cross product. Scale shape: explode each
  // interval into the fixed-width time buckets it spans (bounded by
  // max duration / bucket width ≤ 2 buckets here), equi-join on
  // (user, bucket) — candidates are bucket-local — then apply the
  // exact half-open overlap predicate and dedup pairs that met in
  // two buckets. Shuffle is O(rows × buckets_per_interval), never
  // O(rows²); the oracle is the UNBUCKETED theta join, so a green
  // hash proves the bucketing is lossless.
  // microsecond resolution throughout: DuckDB reads the ns timestamp
  // at us precision, so ns-level endpoints would differ (j10 gotcha)
  private val ovBucketUs = 1860000000L // 31 min >= max session length
  private def j13(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("t0"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .withColumn("t1", col("t0") + (col("vm") % 30 + 1) * lit(60000000L))
    val bucketed = ev.select(col("event_id"), col("user_id"), col("t0"),
      col("t1"), explode(expr(
        s"sequence(t0 div $ovBucketUs, (t1 - 1) div $ovBucketUs)")).as("bk"))
    val a = bucketed.select(col("user_id"), col("bk"),
      col("event_id").as("a_id"), col("t0").as("a_t0"), col("t1").as("a_t1"))
    val b = bucketed.select(col("user_id"), col("bk"),
      col("event_id").as("b_id"), col("t0").as("b_t0"), col("t1").as("b_t1"))
    a.join(b, Seq("user_id", "bk"))
      .filter(col("a_id") < col("b_id") &&
        col("a_t0") < col("b_t1") && col("b_t0") < col("a_t1"))
      .select(col("user_id"), col("a_id"), col("b_id"),
        (least(col("a_t1"), col("b_t1")) - greatest(col("a_t0"), col("b_t0")))
          .as("overlap_us"))
      .distinct()
      .orderBy(col("user_id"), col("a_id"), col("b_id"))
  }
  private val j13Sql =
    """WITH ev AS (
      | SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t0,
      |  epoch_ns(ts) // 1000 + (CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) % 30 + 1)
      |    * 60000000 AS t1
      | FROM events)
      |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      | LEAST(a.t1, b.t1) - GREATEST(a.t0, b.t0) AS overlap_us
      |FROM ev a JOIN ev b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND a.t0 < b.t1 AND b.t0 < a.t1
      |ORDER BY 1, 2, 3""".stripMargin

  // ---- u09: SCD Type-2 dimension history -----------------------------------
  // The warehouse complement to u04's current-state apply: every change
  // becomes a VERSIONED row with a validity interval [eff_from_us,
  // eff_to_us) — lead(us) over the per-key change order closes each
  // version, the last version stays open (NULL → 2^62 sentinel for the
  // hash compare), and is_current flags it. One key-partitioned window
  // over the changelog — the same single-shuffle shape as u04; at scale
  // this is the standard incremental-merge SCD2 build, run here in its
  // batch form.
  private def u09(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    e.select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"), col("event_type"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .withColumn("version", row_number().over(w))
      .withColumn("eff_to_us",
        coalesce(lead(col("us"), 1).over(w), lit(4611686018427387904L)))
      .select(col("user_id"), col("version"),
        col("event_id").as("change_id"), col("event_type").as("op"),
        col("vm"), col("us").as("eff_from_us"), col("eff_to_us"),
        (col("eff_to_us") === 4611686018427387904L).as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }
  private val u09Sql =
    """WITH log AS (
      | SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type,
      |  CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vm
      | FROM events)
      |SELECT user_id,
      | ROW_NUMBER() OVER w AS version,
      | event_id AS change_id, event_type AS op, vm,
      | us AS eff_from_us,
      | COALESCE(LEAD(us, 1) OVER w, 4611686018427387904) AS eff_to_us,
      | COALESCE(LEAD(us, 1) OVER w, 4611686018427387904) = 4611686018427387904 AS is_current
      |FROM log
      |WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)
      |ORDER BY user_id, version""".stripMargin

  // ---- u10: per-key EWMA (typed mapGroups) ---------------------------------
  // Exponentially weighted moving average is a per-key RECURSION
  // (ew_t = α·x_t + (1−α)·ew_{t−1}) — not expressible as a window
  // aggregate, the textbook case for SURVEY §2's path (d): typed
  // groupByKey + mapGroups with an explicit in-order fold. α = 0.5 and
  // milli-long inputs keep every step exact-IEEE, and the oracle folds
  // the SAME order (list_reduce over the (ts, event_id)-ordered list),
  // so the recursion matches bit-for-bit. Scale: state is one double
  // per key; for corpus-scale keys the same fold runs as
  // repartition-by-key + sortWithinPartitions + mapPartitions without
  // materializing groups — this form documents the semantics.
  private def u10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = rd(s, dir, "events")
      .select(col("user_id").cast("long"), expr("ts div 1000").as("us"),
        col("event_id").cast("long"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .as[(Long, Long, Long, Long)]
    ev.groupByKey(_._1)
      .mapGroups { (user, rows) =>
        val sorted = rows.toVector.sortBy(e => (e._2, e._3))
        var ew = 0.0
        var first = true
        sorted.foreach { e =>
          val x = e._4.toDouble / 1000.0
          ew = if (first) { first = false; x } else 0.5 * x + 0.5 * ew
        }
        (user, sorted.size.toLong, ew.toFloat)
      }
      .toDF("user_id", "n_events", "ewma")
      .orderBy(col("user_id"))
  }
  private val u10Sql =
    """WITH x AS (
      | SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id,
      |  CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vm
      | FROM events),
      |ord AS (
      | SELECT user_id, COUNT(*) AS n_events,
      |  list(CAST(vm AS DOUBLE) / 1000.0 ORDER BY us ASC, event_id ASC) AS vs
      | FROM x GROUP BY 1)
      |SELECT user_id, n_events,
      | CAST(list_reduce(vs, (acc, v) -> 0.5 * v + 0.5 * acc) AS REAL) AS ewma
      |FROM ord ORDER BY user_id""".stripMargin

  // ---- u17: CUSUM drift detection ------------------------------------------
  // Per-key cumulative-sum change detection (Page 1954): the running
  // statistic S_t = max(0, S_{t−1} + (x_t − target)) alarms when a
  // stream's level drifts above target for long enough. S looks like a
  // per-key recursion (u10's mapGroups territory) but has a WINDOW
  // identity — S_t = P_t − min(0, min_{j≤t} P_j) over the deviation
  // prefix sums P — so the Spark form is two running windows over ONE
  // (user) partitioning + one already-clustered groupBy: fully
  // declarative, no typed fold, and every quantity is an exact integer
  // (milli-quantized deviations), so no fold-order hazard exists. The
  // oracle computes the peak/alarm columns through the same identity
  // but cross-checks the FINAL statistic by the independent textbook
  // recursion (list_reduce over the ordered deviations) — two algebras
  // agreeing that the identity is right.
  private val cusumTarget = 40000L // milli-units: drift target 40.0 (~median)
  private val cusumH = 500000L // alarm threshold 500.0
  private def u17(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        expr(s"CAST(floor(value * 1000) AS BIGINT) - $cusumTarget").as("d"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("p", sum(col("d")).over(w))
      .withColumn("s", col("p") - least(min(col("p")).over(w), lit(0L)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("s")).as("peak_s"),
        expr("max_by(s, struct(ts, event_id))").as("final_s"),
        sum(when(col("s") > cusumH, 1L).otherwise(0L)).as("n_over"))
      .select(col("user_id"), col("n_events"), col("peak_s"),
        col("final_s"), col("n_over"),
        (col("peak_s") > cusumH).as("drifted"))
      .orderBy(col("user_id"))
  }
  private val u17Sql =
    s"""WITH d AS (
       | SELECT user_id, epoch_ns(ts) AS ts, event_id,
       |  CAST(FLOOR(value * 1000) AS BIGINT) - $cusumTarget AS d
       | FROM events),
       |pre AS (
       | SELECT user_id, ts, event_id, d,
       |  CAST(SUM(d) OVER w AS BIGINT) AS p
       | FROM d
       | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |runs AS (
       | SELECT user_id, ts, event_id, p,
       |  p - LEAST(CAST(MIN(p) OVER w AS BIGINT), 0) AS s
       | FROM pre
       | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |identity_form AS (
       | SELECT user_id, COUNT(*) AS n_events,
       |  CAST(MAX(s) AS BIGINT) AS peak_s,
       |  CAST(LAST(s ORDER BY ts, event_id) AS BIGINT) AS final_s,
       |  CAST(SUM(CASE WHEN s > $cusumH THEN 1 ELSE 0 END) AS BIGINT) AS n_over
       | FROM runs GROUP BY 1),
       |recursion_check AS (
       | SELECT user_id,
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list(d ORDER BY ts, event_id)),
       |    (acc, v) -> GREATEST(acc + v, 0)) AS BIGINT) AS final_s_rec
       | FROM d GROUP BY 1)
       |SELECT i.user_id, i.n_events, i.peak_s, i.final_s, i.n_over,
       | i.peak_s > $cusumH AS drifted
       |FROM identity_form i JOIN recursion_check r
       |  ON i.user_id = r.user_id AND i.final_s = r.final_s_rec
       |ORDER BY i.user_id""".stripMargin

  // ---- j14: range join via the plan REWRITE --------------------------------
  // The same interval containment as j11, but written as the NAIVE
  // theta join — `lo <= x AND x < hi`, no manual bucketing — and
  // rewritten to the Generate + equi-join form by
  // plans.RangeJoinRewrite.on. The oracle is the identical naive SQL —
  // green hash + RangeJoinRewriteSpec's plan assertions = the rewrite
  // is lossless AND actually firing. Intervals: part price bands;
  // points: event milli-values.
  private def j14(s: SparkSession, dir: String): DataFrame = {
    val iv = rd(s, dir, "part")
      .select(col("p_partkey").as("iv_id"),
        expr("CAST(floor(p_retailprice * 100) AS BIGINT)").as("lo"),
        expr("CAST(floor(p_retailprice * 100) AS BIGINT) + (p_size + 1) * 40")
          .as("hi"))
    val pt = rd(s, dir, "events")
      .select(col("event_id"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("x"))
    // width ~ median band width: ≤ 2 buckets/interval
    graft.plans.RangeJoinRewrite.on(
        iv.join(pt, col("lo") <= col("x") && col("x") < col("hi")), 4096)
      .groupBy(col("iv_id"))
      .agg(count(lit(1)).as("n_points"), sum(col("x")).as("x_sum"))
      .orderBy(col("iv_id"))
  }
  private val j14Sql =
    """WITH iv AS (
      | SELECT p_partkey AS iv_id,
      |  CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS lo,
      |  CAST(FLOOR(p_retailprice * 100) AS BIGINT) + (p_size + 1) * 40 AS hi
      | FROM part),
      |pt AS (
      | SELECT event_id, CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS x
      | FROM events)
      |SELECT iv_id, COUNT(*) AS n_points, CAST(SUM(x) AS BIGINT) AS x_sum
      |FROM iv JOIN pt ON iv.lo <= pt.x AND pt.x < iv.hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- a24: exact WEIGHTED quantiles ---------------------------------------
  // a18 covers unweighted interpolated quantiles; reweighted samples
  // (physics event weights, importance-sampled corpora) need the
  // weighted form: decile k = the value at the first row whose running
  // weight crosses ceil(k·W/10). Weights are milli-longs, targets are
  // exact integer arithmetic, and the crossing row is unique by
  // construction (prev_cum < target <= cum) — no interpolation, no
  // float comparisons anywhere. One per-group sort-window plus a
  // broadcast 9-row-per-group target join.
  private def a24(s: SparkSession, dir: String): DataFrame = {
    val li = rd(s, dir, "lineitem")
      .select(col("l_returnflag").as("grp"), col("l_extendedprice").as("v"),
        col("l_orderkey"), col("l_linenumber"),
        expr("CAST(floor(l_quantity * 1000 + 0.5) AS BIGINT)").as("wm"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("v").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = li.withColumn("cumw", sum(col("wm")).over(w))
    val tot = li.groupBy(col("grp")).agg(sum(col("wm")).as("tw"))
    val targets = tot.select(col("grp").as("t_grp"), col("tw"),
      explode(expr("sequence(1, 9)")).as("k"))
      .withColumn("target", expr("(k * tw + 9) div 10"))
    cum.join(broadcast(targets),
        col("grp") === col("t_grp") &&
          col("cumw") >= col("target") &&
          (col("cumw") - col("wm")) < col("target"))
      .select(col("grp"), col("k"), col("v").as("quantile_value"),
        col("target"), col("tw"))
      .orderBy(col("grp"), col("k"))
  }
  private val a24Sql =
    """WITH li AS (
      | SELECT l_returnflag AS grp, l_extendedprice AS v, l_orderkey,
      |  l_linenumber, CAST(FLOOR(l_quantity * 1000 + 0.5) AS BIGINT) AS wm
      | FROM lineitem),
      |cum AS (
      | SELECT grp, v, wm,
      |  CAST(SUM(wm) OVER (PARTITION BY grp
      |    ORDER BY v ASC, l_orderkey ASC, l_linenumber ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw
      | FROM li),
      |tot AS (SELECT grp, CAST(SUM(wm) AS BIGINT) AS tw FROM li GROUP BY 1),
      |targets AS (
      | SELECT t_grp, tw, k, (k * tw + 9) // 10 AS target FROM (
      |  SELECT grp AS t_grp, tw, UNNEST(generate_series(1, 9)) AS k FROM tot))
      |SELECT c.grp, t.k, c.v AS quantile_value, t.target, t.tw
      |FROM cum c JOIN targets t
      |  ON c.grp = t.t_grp AND c.cumw >= t.target AND c.cumw - c.wm < t.target
      |ORDER BY 1, 2""".stripMargin

  // ---- u11: TWAP / VWAP over irregular observation times -------------------
  // The two standard interval aggregates a mark-to-market or metering
  // pipeline computes per (entity, hour): volume-weighted average
  // (Σ p·v / Σ v) and TIME-weighted average, where each observation
  // holds its value until the next one and the last holds to the hour
  // boundary — one LEAD over a single (user, hour) partitioning, no
  // self-join. Everything folds in exact integers (price in cents,
  // durations in µs, volumes derived deterministically from event_id),
  // so both engines' sums are order-free and the final divisions are
  // identical IEEE ops — the same micro-quantization discipline as
  // m05/w05.
  private val usPerHour = 3600000000L
  private def u11(s: SparkSession, dir: String): DataFrame = {
    val e = rd(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("us"),
        expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("cents"),
        (col("event_id") % 9 + 1).as("vol"))
      .withColumn("hr", expr(s"us div $usPerHour"))
    val w = Window.partitionBy(col("user_id"), col("hr"))
      .orderBy(col("us"), col("event_id"))
    e.withColumn("dur",
        coalesce(lead(col("us"), 1).over(w), (col("hr") + 1) * usPerHour) - col("us"))
      .groupBy(col("user_id"), col("hr"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("cents") * col("vol")).cast("double") /
          sum(col("vol")) / 100.0).cast("float").as("vwap"),
        (sum(col("cents") * col("dur")).cast("double") /
          sum(col("dur")) / 100.0).cast("float").as("twap"))
      .orderBy(col("user_id"), col("hr"))
  }
  private val u11Sql =
    s"""WITH e AS (
       | SELECT user_id, event_id,
       |  epoch_ns(ts) // 1000 AS us,
       |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
       |  event_id % 9 + 1 AS vol,
       |  (epoch_ns(ts) // 1000) // $usPerHour AS hr
       | FROM events),
       |d AS (
       | SELECT *, COALESCE(LEAD(us) OVER (PARTITION BY user_id, hr
       |    ORDER BY us, event_id), (hr + 1) * $usPerHour) - us AS dur
       | FROM e)
       |SELECT user_id, hr, COUNT(*) AS n_events,
       | CAST(CAST(SUM(cents * vol) AS DOUBLE) / SUM(vol) / 100.0 AS REAL) AS vwap,
       | CAST(CAST(SUM(cents * dur) AS DOUBLE) / SUM(dur) / 100.0 AS REAL) AS twap
       |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- j15: as-of join WITH a staleness bound (ASOF ... WITHIN) ------------
  // j12's native operator plus the tolerance every trading/telemetry
  // as-of carries in practice: a prior click older than 1 hour is no
  // match (NULL → -1), enforced INSIDE the merge walk / broadcast
  // probe (plans/AsOfJoin.scala `tolerance`), not by post-filtering —
  // a post-filter cannot express "too stale means NO match" without a
  // second pass over the candidate ranks. Oracle: the same
  // argmax-with-bound in independent SQL.
  private val asofTolUs = 3600000000L // 1 hour in µs
  private def j15(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        expr("ts div 1000").as("p_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        expr("ts div 1000").as("c_us"))
    graft.plans.AsOf.join(purchases, clicks,
        col("user_id"), col("p_us"), col("c_user"), col("c_us"),
        Seq(col("click_id")), tolerance = Some(asofTolUs))
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("asof_click"))
      .orderBy(col("purchase_id"))
  }
  private val j15Sql =
    s"""WITH c AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id
       |  FROM events WHERE event_type = 'click'),
       |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id
       |  FROM events WHERE event_type = 'purchase'),
       |best AS (
       | SELECT purchase_id, click_id FROM (
       |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       |   ROW_NUMBER() OVER (PARTITION BY p.event_id
       |     ORDER BY c.us DESC, c.event_id DESC) AS rn
       |  FROM p JOIN c ON p.user_id = c.user_id AND c.us <= p.us
       |   AND p.us - c.us <= $asofTolUs)
       | WHERE rn = 1)
       |SELECT p.event_id AS purchase_id, p.user_id,
       | COALESCE(b.click_id, -1) AS asof_click
       |FROM p LEFT JOIN best b ON p.event_id = b.purchase_id
       |ORDER BY 1""".stripMargin

  // ---- j16: FORWARD as-of join (earliest later event, bounded) -------------
  // The mirror of j15 the other attribution direction needs: for every
  // purchase, the FIRST error event from the same user within the next
  // 2 hours (purchase→problem attribution). Runs through the same
  // native operator via ordering negation (AsOf.joinForward) — merge
  // walk or broadcast probe, no new physical form — with the tolerance
  // becoming a forward window. Oracle: independent argmin-with-bound.
  private val fwdTolUs = 7200000000L // 2 hours in µs
  private def j16(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        expr("ts div 1000").as("p_us"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"),
        expr("ts div 1000").as("e_us"))
    graft.plans.AsOf.joinForward(purchases, errors,
        col("user_id"), col("p_us"), col("e_user"), col("e_us"),
        Seq(col("error_id")), tolerance = Some(fwdTolUs))
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("error_id"), lit(-1L)).as("next_error"))
      .orderBy(col("purchase_id"))
  }
  private val j16Sql =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id
       |  FROM events WHERE event_type = 'error'),
       |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id
       |  FROM events WHERE event_type = 'purchase'),
       |best AS (
       | SELECT purchase_id, error_id FROM (
       |  SELECT p.event_id AS purchase_id, e.event_id AS error_id,
       |   ROW_NUMBER() OVER (PARTITION BY p.event_id
       |     ORDER BY e.us ASC, e.event_id DESC) AS rn
       |  FROM p JOIN e ON p.user_id = e.user_id AND e.us >= p.us
       |   AND e.us - p.us <= $fwdTolUs)
       | WHERE rn = 1)
       |SELECT p.event_id AS purchase_id, p.user_id,
       | COALESCE(b.error_id, -1) AS next_error
       |FROM p LEFT JOIN best b ON p.event_id = b.purchase_id
       |ORDER BY 1""".stripMargin

  // ---- u12: gaps-and-islands run compression -------------------------------
  // Collapse each user's event stream into maximal runs of the SAME
  // event_type (run-length encoding of a sorted log — the classic
  // "islands" problem; sessionization's order-sensitive cousin). The
  // Spark form is the single-partitioning shape: ONE hash shuffle on
  // user_id feeds a lag() boundary flag and a running-sum island id
  // over the SAME window spec, so the whole operator is one exchange +
  // one sort regardless of corpus size; the groupBy that follows
  // re-shuffles only (user, island) — already clustered by user, and
  // map-side combined. The oracle deliberately uses the OTHER
  // textbook formulation (row_number difference) so the two engines
  // agree via different algebra. (ts, event_id) makes the order total,
  // so island boundaries are deterministic.
  private def u12(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    ev.withColumn("boundary",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("boundary")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(
        min(col("event_type")).as("event_type"), // constant within an island
        expr("min(ts) div 1000").as("start_us"),
        expr("max(ts) div 1000").as("end_us"),
        count(lit(1)).as("run_len"),
        min(col("event_id")).as("first_event_id"))
      .select(col("user_id"), col("event_type"), col("start_us"),
        col("end_us"), col("run_len"), col("first_event_id"))
      .orderBy(col("user_id"), col("start_us"), col("first_event_id"))
  }
  private val u12Sql =
    """WITH base AS (
      | SELECT user_id, event_type, epoch_ns(ts) AS ts, event_id,
      |  ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY epoch_ns(ts), event_id) AS rn,
      |  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |    ORDER BY epoch_ns(ts), event_id) AS rn_t
      | FROM events)
      |SELECT user_id, event_type, MIN(ts) // 1000 AS start_us,
      | MAX(ts) // 1000 AS end_us,
      | COUNT(*) AS run_len, MIN(event_id) AS first_event_id
      |FROM base GROUP BY user_id, event_type, rn - rn_t
      |ORDER BY user_id, start_us, first_event_id""".stripMargin

  // ---- u13: seasonal count anomaly flags -----------------------------------
  // Seasonal-profile anomaly detection on event volume: bucket events
  // to (event_type, day, hour-of-day), compare each bucket's count to
  // the mean count of its (event_type, hour-of-day) seasonal slot
  // across days, and flag >2x ("spike") or <0.5x ("drop") deviations.
  // ALL-INTEGER: the threshold test is cross-multiplied
  // (2*cnt*n_buckets < total etc.), so no division or float fold
  // exists anywhere — the cross-engine determinism discipline. Scale
  // shape: the raw scan collapses to an (event_type, day, hod) bucket
  // table in one map-side-combined shuffle; the seasonal profile is a
  // window over (event_type, hod) on that ALREADY-TINY table (buckets,
  // not events), so the second exchange carries ~|types|x|days|x24
  // rows however large the raw log is.
  private def u13(s: SparkSession, dir: String): DataFrame = {
    val nsHour = 3600000000000L
    val ev = rd(s, dir, "events").select(
      col("event_type"),
      expr(s"ts div ${nsHour * 24}").as("day"),
      expr(s"(ts div $nsHour) % 24").as("hod"))
    val buckets = ev.groupBy(col("event_type"), col("day"), col("hod"))
      .agg(count(lit(1)).as("cnt"))
    val wSeason = Window.partitionBy(col("event_type"), col("hod"))
    buckets
      .withColumn("total", sum(col("cnt")).over(wSeason))
      .withColumn("n_buckets", count(lit(1)).over(wSeason))
      .withColumn("verdict",
        when(col("cnt") * col("n_buckets") > col("total") * 2, "spike")
          .when(col("cnt") * col("n_buckets") * 2 < col("total"), "drop"))
      .filter(col("verdict").isNotNull)
      .select(col("event_type"), col("day"), col("hod"), col("cnt"),
        col("total"), col("n_buckets"), col("verdict"))
      .orderBy(col("event_type"), col("day"), col("hod"))
  }
  private val u13Sql =
    """WITH b AS (
      | SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |  (epoch_ns(ts) // 3600000000000) % 24 AS hod, COUNT(*) AS cnt
      | FROM events GROUP BY 1, 2, 3),
      |prof AS (
      | SELECT *,
      |  CAST(SUM(cnt) OVER (PARTITION BY event_type, hod) AS BIGINT) AS total,
      |  COUNT(*) OVER (PARTITION BY event_type, hod) AS n_buckets
      | FROM b)
      |SELECT event_type, day, hod, cnt, total, n_buckets,
      | CASE WHEN cnt * n_buckets > total * 2 THEN 'spike'
      |      WHEN cnt * n_buckets * 2 < total THEN 'drop' END AS verdict
      |FROM prof
      |WHERE cnt * n_buckets > total * 2 OR cnt * n_buckets * 2 < total
      |ORDER BY event_type, day, hod""".stripMargin

  // ---- u14: Markov transition matrix ---------------------------------------
  // First-order next-event transition model over per-user event
  // streams: lag() pairs each event with its predecessor (total order
  // (ts, event_id) within user), then one tiny groupBy counts each
  // (prev → next) transition and row-normalizes into probabilities.
  // The training step of every next-action / session-simulation model.
  // Scale shape: ONE hash shuffle on user_id feeds the lag window; the
  // transition table that leaves it has |types|² rows however large
  // the log, so the normalizing window runs over ~25 rows. Counts are
  // integers; the probability is a single division cast to float32.
  private def u14(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    val wPrev = Window.partitionBy(col("prev_type"))
    pairs.groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(wPrev))
      .select(col("prev_type"), col("next_type"), col("n"), col("row_total"),
        expr("CAST(CAST(n AS DOUBLE) / row_total AS FLOAT)").as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }
  private val u14Sql =
    """WITH pairs AS (
      | SELECT LAG(event_type, 1) OVER (PARTITION BY user_id
      |    ORDER BY epoch_ns(ts), event_id) AS prev_type,
      |  event_type AS next_type
      | FROM events),
      |t AS (
      | SELECT prev_type, next_type, COUNT(*) AS n
      | FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      | CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total,
      | CAST(CAST(n AS DOUBLE) /
      |   SUM(n) OVER (PARTITION BY prev_type) AS REAL) AS p
      |FROM t ORDER BY prev_type, next_type""".stripMargin

  // ---- u15: top-k session entry paths --------------------------------------
  // The "what do users do first" report: each user's first 5 events
  // (total order (ts, event_id)) concatenated into a path string, then
  // the 20 most common paths ranked (count desc, path asc — fully
  // deterministic). Scale shape: ONE user_id shuffle for the
  // row_number window, a per-user fold into the path string (map-side
  // clustered by the same partitioning), and a count shuffle keyed by
  // PATH STRING whose cardinality is bounded by |types|^5, not users;
  // the final top-20 window runs over that path-count table. Ordered
  // assembly is explicit on both engines: Spark array_sorts the
  // (rn, type) structs before joining, DuckDB string_aggs ORDER BY rn.
  private val pathLen = 5
  private val topPaths = 20
  private def u15(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val paths = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= pathLen)
      .groupBy(col("user_id"))
      .agg(concat_ws(">",
        expr("transform(array_sort(collect_list(struct(rn, event_type)))," +
          " x -> x.event_type)")).as("path"))
    // distributed top-20 (TakeOrderedAndProject) instead of a global
    // window over the |types|^5-bounded path table; rank over 20 rows
    val wTop = Window.orderBy(col("n_users").desc, col("path").asc)
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(topPaths)
      .withColumn("rank", row_number().over(wTop))
      .select(col("rank"), col("path"), col("n_users"))
      .orderBy(col("rank"))
  }
  private val u15Sql =
    s"""WITH r AS (
       | SELECT user_id, event_type,
       |  ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY epoch_ns(ts), event_id) AS rn
       | FROM events),
       |p AS (
       | SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
       | FROM r WHERE rn <= $pathLen GROUP BY user_id),
       |c AS (SELECT path, COUNT(*) AS n_users FROM p GROUP BY 1)
       |SELECT rank, path, n_users FROM (
       | SELECT path, n_users,
       |  ROW_NUMBER() OVER (ORDER BY n_users DESC, path ASC) AS rank
       | FROM c)
       |WHERE rank <= $topPaths ORDER BY rank""".stripMargin

  // ---- u16: per-key OLS trend + correlation --------------------------------
  // Grouped simple linear regression: per user, the least-squares
  // slope and Pearson correlation of event value against time — the
  // distributed form of "fit a trend line per entity" (drift
  // detection, per-account usage trajectories). All five moment sums
  // (Σx, Σy, Σxy, Σx², Σy²) are INTEGER: x is seconds since the
  // user's first event (window min over the same user partitioning the
  // groupBy reuses), y is milli-quantized value (floor(v·1000) — the
  // repo's order-free float discipline), so the one map-side-combined
  // shuffle is exact whatever the fold order, and slope/r are single
  // closed-form double expressions over exact integers, cast float32.
  // Degenerate groups (n < 3 or zero variance either axis) are
  // filtered on both engines.
  private def u16(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), col("ts"), col("value"))
    val wUser = Window.partitionBy(col("user_id"))
    ev.withColumn("t0", min(col("ts")).over(wUser))
      .select(col("user_id"),
        expr("(ts - t0) div 1000000000").as("x"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("y"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .filter(col("n") >= 3 &&
        col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
        col("n") * col("syy") - col("sy") * col("sy") > 0)
      .select(col("user_id"), col("n"),
        expr("""CAST(CAST(n * sxy - sx * sy AS DOUBLE)
               | / (n * sxx - sx * sx) AS FLOAT)""".stripMargin)
          .as("slope_milli_per_s"),
        expr("""CAST(CAST(n * sxy - sx * sy AS DOUBLE)
               | / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
               |    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS FLOAT)"""
          .stripMargin).as("r"))
      .orderBy(col("user_id"))
  }
  private val u16Sql =
    """WITH b AS (
      | SELECT user_id,
      |  (epoch_ns(ts) - MIN(epoch_ns(ts)) OVER (PARTITION BY user_id))
      |    // 1000000000 AS x,
      |  CAST(FLOOR(value * 1000) AS BIGINT) AS y
      | FROM events),
      |m AS (
      | SELECT user_id, COUNT(*) AS n,
      |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |  CAST(SUM(x * x) AS BIGINT) AS sxx,
      |  CAST(SUM(y * y) AS BIGINT) AS syy,
      |  CAST(SUM(x * y) AS BIGINT) AS sxy
      | FROM b GROUP BY 1)
      |SELECT user_id, n,
      | CAST(CAST(n * sxy - sx * sy AS DOUBLE)
      |  / (n * sxx - sx * sx) AS REAL) AS slope_milli_per_s,
      | CAST(CAST(n * sxy - sx * sy AS DOUBLE)
      |  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS REAL) AS r
      |FROM m
      |WHERE n >= 3 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |ORDER BY user_id""".stripMargin

  // ---- u21: time-weighted allocation across calendar buckets ---------------
  // The metering/billing primitive: a session spanning bucket
  // boundaries contributes to EACH hour proportionally to its overlap
  // (u07's OHLC assigns whole rows to buckets; this splits them).
  // Sessions reuse u08's value-derived durations; each explodes into
  // the ≤ 2 hour buckets it spans (sequence over bucket ids — the j13
  // bounded-explode shape), the overlap is exact integer microseconds,
  // and the per-hour allocation sums vm·overlap_us as exact longs
  // (≤ 2^63 at any row count by the milli/µs bounds) before ONE double
  // division to value-hours. Shuffle is keyed by hour bucket.
  private val usPerHourA = 3600000000L
  private def u21(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("event_id"), expr("ts div 1000").as("t0"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .withColumn("t1", col("t0") + (col("vm") % 30 + 1) * lit(60000000L))
    val spanned = ev.select(col("event_id"), col("t0"), col("t1"), col("vm"),
      explode(expr(s"sequence(t0 div $usPerHourA, (t1 - 1) div $usPerHourA)"))
        .as("hour"))
    spanned
      .withColumn("overlap_us",
        least(col("t1"), (col("hour") + 1) * usPerHourA) -
          greatest(col("t0"), col("hour") * usPerHourA))
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("overlap_us")).as("busy_us"),
        sum(col("vm") * col("overlap_us")).as("alloc_q"))
      .select(col("hour"), col("n_spans"), col("busy_us"),
        expr(s"CAST(CAST(alloc_q AS DOUBLE) / (1000.0 * $usPerHourA) AS FLOAT)")
          .as("value_hours"))
      .orderBy(col("hour"))
  }
  private val u21Sql =
    s"""WITH ev AS (
       | SELECT event_id, epoch_ns(ts) // 1000 AS t0,
       |  CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vm,
       |  epoch_ns(ts) // 1000
       |   + (CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) % 30 + 1) * 60000000 AS t1
       | FROM events),
       |spanned AS (
       | SELECT event_id, t0, t1, vm,
       |  UNNEST(generate_series(t0 // $usPerHourA, (t1 - 1) // $usPerHourA)) AS hour
       | FROM ev),
       |o AS (
       | SELECT hour, vm,
       |  LEAST(t1, (hour + 1) * $usPerHourA) - GREATEST(t0, hour * $usPerHourA)
       |    AS overlap_us
       | FROM spanned)
       |SELECT hour, COUNT(*) AS n_spans,
       | CAST(SUM(overlap_us) AS BIGINT) AS busy_us,
       | CAST(CAST(SUM(vm * overlap_us) AS DOUBLE) / (1000.0 * $usPerHourA) AS REAL)
       |   AS value_hours
       |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- u19: Holt linear-trend smoothing (double exponential) ---------------
  // u10's EWMA tracks level only; Holt's method adds a TREND state —
  // the standard short-horizon forecaster (capacity planning, rate
  // projection): l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1}),
  // b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, α = β = 0.5, init
  // (l₁, b₁) = (x₁, 0). A TWO-state per-key recursion — still SURVEY
  // §2 path (d): typed mapGroups folds in explicit (ts, event_id)
  // order, and the oracle folds the IDENTICAL order with a list-pair
  // accumulator (list_reduce over [x, 0] pairs), so every IEEE step
  // matches bit-for-bit. State is two doubles per key at any scale.
  private def u19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = rd(s, dir, "events")
      .select(col("user_id").cast("long"), expr("ts div 1000").as("us"),
        col("event_id").cast("long"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .as[(Long, Long, Long, Long)]
    ev.groupByKey(_._1)
      .mapGroups { (user, rows) =>
        val sorted = rows.toVector.sortBy(e => (e._2, e._3))
        var l = 0.0; var b = 0.0; var first = true
        sorted.foreach { e =>
          val x = e._4.toDouble / 1000.0
          if (first) { first = false; l = x; b = 0.0 }
          else {
            val lp = 0.5 * x + 0.5 * (l + b)
            b = 0.5 * (lp - l) + 0.5 * b
            l = lp
          }
        }
        (user, sorted.size.toLong, l.toFloat, b.toFloat, (l + b).toFloat)
      }
      .toDF("user_id", "n_events", "level", "trend", "forecast_1")
      .orderBy(col("user_id"))
  }
  private val u19Sql =
    """WITH x AS (
      | SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id,
      |  CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vm
      | FROM events),
      |ord AS (
      | SELECT user_id, COUNT(*) AS n_events,
      |  list(CAST(vm AS DOUBLE) / 1000.0 ORDER BY us ASC, event_id ASC) AS vs
      | FROM x GROUP BY 1),
      |fold AS (
      | SELECT user_id, n_events,
      |  list_reduce(
      |   list_prepend([vs[1], CAST(0 AS DOUBLE)],
      |    list_transform(vs[2:], v -> [v, CAST(0 AS DOUBLE)])),
      |   (acc, v) -> [0.5 * v[1] + 0.5 * (acc[1] + acc[2]),
      |    0.5 * ((0.5 * v[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
      |     + 0.5 * acc[2]]) AS st
      | FROM ord)
      |SELECT user_id, n_events,
      | CAST(st[1] AS REAL) AS level, CAST(st[2] AS REAL) AS trend,
      | CAST(st[1] + st[2] AS REAL) AS forecast_1
      |FROM fold ORDER BY user_id""".stripMargin

  // ---- u18: bitemporal snapshot (valid time × transaction time) ------------
  // The two-axis time query SCD2 (u09) cannot answer: "what did we
  // BELIEVE at transaction time T_t the state was AS OF valid time
  // T_v" — the reproducibility primitive for restated data (late
  // corrections, backfills, audit). Facts carry valid_from (event
  // time) and recorded_at (when the pipeline learned it — here a
  // value-derived ingest delay); the snapshot keeps, per entity, the
  // latest valid fact among those already recorded, both cutoffs
  // data-anchored scalars (min-ts offsets — deterministic on both
  // engines). One broadcast of the 1-row anchor, one entity-keyed
  // window: the same distributed shape at any corpus size.
  private val nsPerHourB = 3600000000000L
  private def u18(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .withColumn("recorded_at",
        col("ts") + (col("vm") % 7 + 1) * lit(nsPerHourB))
    val anchors = ev.agg(min(col("ts")).as("t0"))
      .select((col("t0") + lit(3L * nsPerDay)).as("tv"),
        (col("t0") + lit(4L * nsPerDay)).as("tt"))
    val known = ev.crossJoin(broadcast(anchors))
      .filter(col("ts") <= col("tv") && col("recorded_at") <= col("tt"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val wN = Window.partitionBy(col("user_id"))
    known
      .withColumn("rn", row_number().over(w))
      .withColumn("n_known", count(lit(1)).over(wN))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("valid_from"), col("recorded_at"),
        col("vm").as("fact_value"), col("n_known"))
      .orderBy(col("user_id"))
  }
  private val u18Sql =
    s"""WITH ev AS (
       | SELECT user_id, epoch_ns(ts) AS t, event_id,
       |  CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS vm,
       |  epoch_ns(ts) + (CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) % 7 + 1)
       |    * $nsPerHourB AS recorded_at
       | FROM events),
       |anch AS (SELECT MIN(t) + 3 * $nsPerDay AS tv,
       |          MIN(t) + 4 * $nsPerDay AS tt FROM ev),
       |known AS (
       | SELECT ev.* FROM ev CROSS JOIN anch
       | WHERE t <= tv AND recorded_at <= tt)
       |SELECT user_id, t AS valid_from, recorded_at, vm AS fact_value, n_known
       |FROM (SELECT *,
       |       ROW_NUMBER() OVER (PARTITION BY user_id
       |         ORDER BY t DESC, event_id DESC) AS rn,
       |       COUNT(*) OVER (PARTITION BY user_id) AS n_known
       |      FROM known)
       |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---- u23: RFM segmentation ------------------------------------------------
  // Recency/Frequency/Monetary scoring (Hughes, "Strategic Database
  // Marketing") the scale-honest way: per-user RFM is ONE groupBy; the
  // quintile cutoffs are a 1-ROW percentile aggregate broadcast back —
  // NOT a corpus-wide ntile sort, which would funnel every user through
  // one partition. Scores are threshold comparisons (shared spelling;
  // Spark `percentile` ≡ DuckDB `quantile_cont`, identical interpolation
  // over exact integer inputs), M is exact cents, R exact integer days
  // against the data's own max timestamp. Segment labels are one shared
  // CASE over (r_score, f_score).
  private def u23(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val perUser = ev.groupBy(col("user_id")).agg(
        count(lit(1)).as("f_cnt"),
        expr("CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)").as("m_cents"),
        max(col("ts")).as("last_ts"))
      .localCheckpoint() // feeds the anchor, the cutoffs, and the scoring
    val anchored = perUser.crossJoin(broadcast(
        perUser.agg(max(col("last_ts")).as("gmax"))))
      .select(col("user_id"), col("f_cnt"), col("m_cents"),
        expr("CAST((gmax - last_ts) DIV 86400000000000 AS BIGINT)").as("r_days"))
      .localCheckpoint()
    val cuts = anchored.agg(
      expr("percentile(r_days, array(0.2D, 0.4D, 0.6D, 0.8D))").as("rq"),
      expr("percentile(f_cnt, array(0.2D, 0.4D, 0.6D, 0.8D))").as("fq"),
      expr("percentile(m_cents, array(0.2D, 0.4D, 0.6D, 0.8D))").as("mq"))
    def hi(m: String, q: String) = // 1..5, higher metric -> higher score
      s"(1 + CAST($m > element_at($q, 1) AS INT) + CAST($m > element_at($q, 2) AS INT)" +
        s" + CAST($m > element_at($q, 3) AS INT) + CAST($m > element_at($q, 4) AS INT))"
    val scored = anchored.crossJoin(broadcast(cuts))
      .select(col("user_id"), col("r_days"), col("f_cnt"), col("m_cents"),
        expr(s"6 - ${hi("r_days", "rq")}").as("r_score"), // recent = low days
        expr(hi("f_cnt", "fq")).as("f_score"),
        expr(hi("m_cents", "mq")).as("m_score"))
    scored.withColumn("segment", expr(
        """CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
          | WHEN f_score >= 4 THEN 'loyal'
          | WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
          | WHEN r_score <= 2 THEN 'hibernating'
          | ELSE 'regular' END""".stripMargin))
      .orderBy(col("user_id"))
  }
  private val u23Sql = {
    def hi(m: String, q: String) =
      s"(1 + CAST($m > $q[1] AS INT) + CAST($m > $q[2] AS INT)" +
        s" + CAST($m > $q[3] AS INT) + CAST($m > $q[4] AS INT))"
    s"""WITH per_user AS MATERIALIZED (
       | SELECT user_id, COUNT(*) AS f_cnt,
       |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS m_cents,
       |  MAX(epoch_ns(ts)) AS last_ts
       | FROM events GROUP BY 1),
       |anchored AS MATERIALIZED (
       | SELECT user_id, f_cnt, m_cents,
       |  CAST(((SELECT MAX(last_ts) FROM per_user) - last_ts) // 86400000000000 AS BIGINT) AS r_days
       | FROM per_user),
       |cuts AS (
       | SELECT quantile_cont(r_days, [0.2, 0.4, 0.6, 0.8]) AS rq,
       |  quantile_cont(f_cnt, [0.2, 0.4, 0.6, 0.8]) AS fq,
       |  quantile_cont(m_cents, [0.2, 0.4, 0.6, 0.8]) AS mq
       | FROM anchored),
       |scored AS (
       | SELECT user_id, r_days, f_cnt, m_cents,
       |  6 - ${hi("r_days", "rq")} AS r_score,
       |  ${hi("f_cnt", "fq")} AS f_score,
       |  ${hi("m_cents", "mq")} AS m_score
       | FROM anchored CROSS JOIN cuts)
       |SELECT user_id, r_days, f_cnt, m_cents, r_score, f_score, m_score,
       | CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
       |      WHEN f_score >= 4 THEN 'loyal'
       |      WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
       |      WHEN r_score <= 2 THEN 'hibernating'
       |      ELSE 'regular' END AS segment
       |FROM scored ORDER BY user_id""".stripMargin
  }

  // ---- u24: classical additive seasonal decomposition ----------------------
  // The decomposition behind every seasonality-aware forecast/anomaly
  // pipeline (classical additive form, Hyndman & Athanasopoulos FPP
  // §6.3; STL's moving-average ancestor): per event_type,
  //   trend_t    = centered 7-day moving average of the daily total
  //   seasonal_d = mean detrended value per day-of-week, centered to
  //                sum zero across the week
  //   residual   = daily − trend − seasonal
  // Output is the 7-row-per-type seasonal index plus per-dow residual
  // RMS. Determinism is the u06 discipline end-to-end: values
  // milli-quantize BEFORE the daily sum (order-free long fold), the
  // moving average is an exact long window-SUM divided once, detrended
  // values re-quantize to milli-longs before the dow mean, and the
  // zero-centering adjustment folds those already-quantized longs — no
  // float ever accumulates across rows on either engine.
  //
  // Scale: one corpus scan to the daily table (keyed by (type, day) —
  // map-side combined), a per-type spine explode bounded by the date
  // range, ONE window sort keyed by type, and two tiny keyed
  // aggregates. The same one-shuffle shape as u06/u13 at any corpus
  // size; no collect, no unpartitioned window.
  private def u24(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val daily0 = ev
      .select(col("event_type"), expr(s"ts div $nsPerDay").as("day"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(org.apache.spark.sql.functions.sum(col("vm")).as("sm"))
    val spine = daily0.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
    val daily = spine.join(daily0, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("sm"), lit(0L)).as("sm"))
      .localCheckpoint() // feeds the trend window AND the residual pass
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val tr = daily
      .withColumn("n7", count(lit(1)).over(w))
      .withColumn("s7", org.apache.spark.sql.functions.sum(col("sm")).over(w))
      .filter(col("n7") === 7) // edges carry no trend (classical MA)
      .withColumn("trend", col("s7") / lit(7.0))
      .withColumn("dsm",
        expr("CAST(floor((sm - trend) * 1000 + 0.5) AS BIGINT)"))
      .withColumn("dow", col("day") % 7)
      .localCheckpoint() // feeds the dow mean AND the residual RMS
    val seas0 = tr.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"),
        org.apache.spark.sql.functions.sum(col("dsm")).as("dsum"))
      .withColumn("s_q",
        expr("CAST(floor(CAST(dsum AS DOUBLE) / n_days + 0.5) AS BIGINT)"))
    val adj = seas0.groupBy(col("event_type"))
      .agg((org.apache.spark.sql.functions.sum(col("s_q")).cast("double")
        / count(lit(1))).as("adj_m"))
    val seas = seas0.join(adj, Seq("event_type"))
      .withColumn("seasonal_milli",
        expr("CAST(floor(s_q - adj_m + 0.5) AS BIGINT)"))
    // residuals floor-divide to unit scale BEFORE squaring: micro-scale
    // squares overflow Long at sf0.1 (found by the round-9 sf0.1 sweep
    // — daily milli-sums reach 3.7e7, detrended micro-residuals ~1e9,
    // squared ~1e18 and the per-dow fold crossed Long.Max). The
    // explicit FLOOR(x / 1000.0) spelling is floor division on both
    // engines (Spark's `div` truncates toward zero, DuckDB's `//`
    // floors — they disagree on negatives).
    val res = tr
      .join(seas.select(col("event_type"), col("dow"), col("seasonal_milli")),
        Seq("event_type", "dow"))
      .select(col("event_type"), col("dow"),
        expr("CAST(FLOOR(CAST(dsm - seasonal_milli AS DOUBLE) / 1000.0) AS BIGINT)")
          .as("rql"))
      .groupBy(col("event_type"), col("dow"))
      .agg(org.apache.spark.sql.functions.sum(expr("rql * rql")).as("ssq"),
        count(lit(1)).as("nr"))
    seas.join(res, Seq("event_type", "dow"))
      .select(col("event_type"), col("dow"), col("n_days"),
        col("seasonal_milli"),
        (col("seasonal_milli") / 1000.0).cast("float").as("seasonal"),
        expr("CAST(sqrt(CAST(ssq AS DOUBLE) / nr) AS FLOAT)")
          .as("resid_rms"))
      .orderBy(col("event_type"), col("dow"))
  }
  private val u24Sql =
    s"""WITH daily0 AS (
       | SELECT event_type, epoch_ns(ts) // $nsPerDay AS day,
       |  CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sm
       | FROM events GROUP BY 1, 2),
       |spine AS (
       | SELECT event_type, unnest(generate_series(MIN(day), MAX(day))) AS day
       | FROM daily0 GROUP BY event_type),
       |daily AS (
       | SELECT s.event_type, s.day, COALESCE(d.sm, 0) AS sm
       | FROM spine s LEFT JOIN daily0 d USING (event_type, day)),
       |tr AS (
       | SELECT *, sm - trend AS ds FROM (
       |  SELECT event_type, day, sm,
       |   COUNT(*) OVER wf AS n7,
       |   CAST(SUM(sm) OVER wf AS DOUBLE) / 7.0 AS trend
       |  FROM daily
       |  WINDOW wf AS (PARTITION BY event_type ORDER BY day
       |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
       | WHERE n7 = 7),
       |trq AS (
       | SELECT event_type, day % 7 AS dow,
       |  CAST(floor(ds * 1000 + 0.5) AS BIGINT) AS dsm
       | FROM tr),
       |seas0 AS (
       | SELECT event_type, dow, COUNT(*) AS n_days,
       |  CAST(floor(CAST(SUM(dsm) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS s_q
       | FROM trq GROUP BY 1, 2),
       |adj AS (
       | SELECT event_type, CAST(SUM(s_q) AS DOUBLE) / COUNT(*) AS adj_m
       | FROM seas0 GROUP BY 1),
       |seas AS (
       | SELECT s.event_type, s.dow, s.n_days,
       |  CAST(floor(s.s_q - a.adj_m + 0.5) AS BIGINT) AS seasonal_milli
       | FROM seas0 s JOIN adj a USING (event_type)),
       |res AS (
       | SELECT event_type, dow, SUM(rql * rql) AS ssq, COUNT(*) AS nr
       | FROM (
       |  SELECT t.event_type, t.dow,
       |   CAST(FLOOR(CAST(t.dsm - se.seasonal_milli AS DOUBLE) / 1000.0)
       |     AS BIGINT) AS rql
       |  FROM trq t JOIN seas se USING (event_type, dow))
       | GROUP BY 1, 2)
       |SELECT s.event_type, s.dow, s.n_days, s.seasonal_milli,
       | CAST(s.seasonal_milli / 1000.0 AS REAL) AS seasonal,
       | CAST(sqrt(CAST(r.ssq AS DOUBLE) / r.nr) AS REAL) AS resid_rms
       |FROM seas s JOIN res r USING (event_type, dow)
       |ORDER BY s.event_type, s.dow""".stripMargin

  // ---- u25: Kaplan-Meier survival with Greenwood errors --------------------
  // The product-limit estimator (Kaplan & Meier 1958) every
  // time-to-event analysis starts from — here "time from a user's
  // first event to their first purchase", right-censored at the corpus
  // end for users who never purchase, stratified by acquisition
  // channel (the user's first event_type). Per stratum and distinct
  // duration-day t_i with d_i deaths and n_i at risk:
  //   S(t_i)  = prod_{j<=i} (1 - d_j / n_j)
  //   Var(S)  = S^2 * sum_{j<=i} d_j / (n_j (n_j - d_j))   (Greenwood 1926)
  // Cross-engine float discipline (t22/t36 form): d_j and n_j are exact
  // longs, so each factor is the same IEEE double on both engines; its
  // ln micro-quantizes to a long BEFORE the cumulative window sum (the
  // only cross-row accumulation), Greenwood terms pico-quantize (1e12)
  // the same way, and exp/sqrt run once on the identical quantized
  // total with a final float32 cast absorbing libm-vs-JVM ulps. A
  // stratum that dies out entirely (d = n at the last event time) gets
  // S = 0 by flag, never ln(0).
  //
  // Scale: one scan -> per-user window (partitioned by user_id) + one
  // purchase-side groupBy, then everything downstream is keyed by
  // (channel, duration_day) — bounded by strata x the corpus day span,
  // the a14-style aggregate-bounded window input. No collect; the
  // corpus-max censor time is a broadcast 1-row cross join (s06
  // convention).
  private val usPerDay = 86400000000L
  private def u25(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    // microsecond resolution throughout (the j10 discipline): ordering
    // and differencing at raw ns would diverge from the us-precision
    // oracle if nanos-typed data ships again
    val gmax = ev.agg(max(expr("ts div 1000")).as("tmax")) // 1 row
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000").asc, col("event_id").asc)
    val first = ev
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(wU))
      .filter(col("rn") === 1)
      .select(col("user_id"), expr("ts div 1000").as("t0"),
        col("event_type").as("channel"))
    val death = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(expr("ts div 1000")).as("tp"))
    val durs = first.join(death, Seq("user_id"), "left")
      .crossJoin(broadcast(gmax))
      .select(col("channel"),
        when(col("tp").isNotNull, expr(s"(tp - t0) div $usPerDay"))
          .otherwise(expr(s"(tmax - t0) div $usPerDay")).as("dur"),
        when(col("tp").isNotNull, lit(1L)).otherwise(lit(0L)).as("evt"))
    val byDur = durs.groupBy(col("channel"), col("dur"))
      .agg(org.apache.spark.sql.functions.sum(col("evt")).as("d"),
        count(lit(1)).as("m"))
    val tot = byDur.groupBy(col("channel"))
      .agg(org.apache.spark.sql.functions.sum(col("m")).as("n0"))
    val wPrev = Window.partitionBy(col("channel")).orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("channel")).orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = byDur.join(tot, Seq("channel"))
      .withColumn("at_risk", col("n0") -
        coalesce(org.apache.spark.sql.functions.sum(col("m")).over(wPrev),
          lit(0L)))
      .filter(col("d") > 0) // KM steps only at event times
      .withColumn("lnq", expr(
        """CASE WHEN d = at_risk THEN CAST(0 AS BIGINT)
          | ELSE CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / at_risk) * 1e6
          |                 + 0.5) AS BIGINT) END""".stripMargin))
      .withColumn("gwq", expr(
        """CASE WHEN d = at_risk THEN CAST(0 AS BIGINT)
          | ELSE CAST(floor(CAST(d AS DOUBLE)
          |                 / (at_risk * (at_risk - d)) * 1e12
          |                 + 0.5) AS BIGINT) END""".stripMargin))
    risk
      .withColumn("dead", max(when(col("d") === col("at_risk"), 1)
        .otherwise(0)).over(wCum))
      .withColumn("lsum",
        org.apache.spark.sql.functions.sum(col("lnq")).over(wCum))
      .withColumn("gsum",
        org.apache.spark.sql.functions.sum(col("gwq")).over(wCum))
      .select(col("channel"), col("dur").as("duration_day"),
        col("at_risk").as("n_at_risk"), col("d").as("n_deaths"),
        (col("m") - col("d")).as("n_censored"),
        expr("""CAST(CASE WHEN dead = 1 THEN 0.0
                | ELSE exp(lsum / 1e6) END AS FLOAT)""".stripMargin)
          .as("survival"),
        expr("""CAST(CASE WHEN dead = 1 THEN 0.0
                | ELSE exp(lsum / 1e6) * sqrt(gsum / 1e12) END
                |AS FLOAT)""".stripMargin).as("greenwood_se"))
      .orderBy(col("channel"), col("duration_day"))
  }
  private val u25Sql =
    s"""WITH first AS (
       | SELECT user_id, epoch_ns(ts) // 1000 AS t0, event_type AS channel
       | FROM (
       |  SELECT user_id, ts, event_type,
       |   ROW_NUMBER() OVER (PARTITION BY user_id
       |                      ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
       |  FROM events) WHERE rn = 1),
       |death AS (
       | SELECT user_id, MIN(epoch_ns(ts) // 1000) AS tp FROM events
       | WHERE event_type = 'purchase' GROUP BY 1),
       |gmax AS (SELECT MAX(epoch_ns(ts) // 1000) AS tmax FROM events),
       |durs AS (
       | SELECT f.channel,
       |  CASE WHEN d.tp IS NOT NULL
       |       THEN (d.tp - f.t0) // $usPerDay
       |       ELSE (g.tmax - f.t0) // $usPerDay
       |  END AS dur,
       |  CASE WHEN d.tp IS NOT NULL THEN 1 ELSE 0 END AS evt
       | FROM first f LEFT JOIN death d USING (user_id) CROSS JOIN gmax g),
       |by_dur AS (
       | SELECT channel, dur, CAST(SUM(evt) AS BIGINT) AS d,
       |  COUNT(*) AS m
       | FROM durs GROUP BY 1, 2),
       |tot AS (SELECT channel, SUM(m) AS n0 FROM by_dur GROUP BY 1),
       |risk AS (
       | SELECT b.*, CAST(t.n0 - COALESCE(SUM(b.m) OVER (
       |   PARTITION BY b.channel ORDER BY b.dur
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |  AS BIGINT) AS at_risk
       | FROM by_dur b JOIN tot t USING (channel)),
       |steps AS (
       | SELECT *,
       |  CASE WHEN d = at_risk THEN CAST(0 AS BIGINT)
       |   ELSE CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / at_risk) * 1e6
       |                   + 0.5) AS BIGINT) END AS lnq,
       |  CASE WHEN d = at_risk THEN CAST(0 AS BIGINT)
       |   ELSE CAST(floor(CAST(d AS DOUBLE) / (at_risk * (at_risk - d))
       |                   * 1e12 + 0.5) AS BIGINT) END AS gwq
       | FROM risk WHERE d > 0),
       |cum AS (
       | SELECT *,
       |  MAX(CASE WHEN d = at_risk THEN 1 ELSE 0 END) OVER wc AS dead,
       |  SUM(lnq) OVER wc AS lsum, SUM(gwq) OVER wc AS gsum
       | FROM steps
       | WINDOW wc AS (PARTITION BY channel ORDER BY dur
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT channel, dur AS duration_day, at_risk AS n_at_risk,
       | d AS n_deaths, m - d AS n_censored,
       | CAST(CASE WHEN dead = 1 THEN 0.0 ELSE exp(lsum / 1e6) END
       |      AS REAL) AS survival,
       | CAST(CASE WHEN dead = 1 THEN 0.0
       |      ELSE exp(lsum / 1e6) * sqrt(gsum / 1e12) END
       |      AS REAL) AS greenwood_se
       |FROM cum ORDER BY channel, duration_day""".stripMargin

  // ---- u26: Theil-Sen robust trend -----------------------------------------
  // The robust slope (Theil 1950 / Sen 1968) behind outlier-immune
  // trend monitoring — u16's OLS breaks on one bad day, the median of
  // pairwise slopes has a 29% breakdown point. Per event_type: reduce
  // to the daily series (bounded by the corpus day span — the a14
  // discipline), form all day PAIRS of that bounded table (the
  // quadratic lives in day-space, never row-space: 30 days = 435
  // pairs, at 100 TB still 435 pairs), take slope = exact interpolated
  // median of the micro-quantized pairwise slopes and intercept =
  // median of (y - slope*x) residual anchors. Slopes are ratios of
  // exact milli/day longs so both engines see identical doubles;
  // micro-quantization before each percentile keeps the median in
  // integer space.
  private def u26(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val daily = ev
      .select(col("event_type"), expr(s"ts div $nsPerDay").as("day"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(org.apache.spark.sql.functions.sum(col("vm")).as("ym"))
      .localCheckpoint() // both pair-join sides + the intercept pass
    val slopes = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        expr("""CAST(floor((CAST(b.ym - a.ym AS DOUBLE) / 1000.0)
               | / (b.day - a.day) * 1e6 + 0.5) AS BIGINT)""".stripMargin)
          .as("slope_u"))
    val med = slopes.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(slope_u, CAST(0.5 AS DOUBLE))").as("slope_med_u"))
      .withColumn("slope", expr("slope_med_u / 1e6"))
    val inter = daily.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("n_pairs"), col("slope"),
        expr("""CAST(floor((ym / 1000.0 - slope * day) * 1e6 + 0.5)
               |AS BIGINT)""".stripMargin).as("resid_u"))
      .groupBy(col("event_type"), col("n_pairs"), col("slope"))
      .agg(expr("percentile(resid_u, CAST(0.5 AS DOUBLE))").as("icpt_u"))
    inter.select(col("event_type"), col("n_pairs"),
        expr("CAST(slope AS FLOAT)").as("ts_slope"),
        expr("CAST(icpt_u / 1e6 AS FLOAT)").as("ts_intercept"))
      .orderBy(col("event_type"))
  }
  private val u26Sql =
    s"""WITH daily AS (
       | SELECT event_type, epoch_ns(ts) // $nsPerDay AS day,
       |  CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS ym
       | FROM events GROUP BY 1, 2),
       |slopes AS (
       | SELECT a.event_type,
       |  CAST(floor((CAST(b.ym - a.ym AS DOUBLE) / 1000.0)
       |   / (b.day - a.day) * 1e6 + 0.5) AS BIGINT) AS slope_u
       | FROM daily a JOIN daily b
       |  ON a.event_type = b.event_type AND a.day < b.day),
       |med AS (
       | SELECT event_type, COUNT(*) AS n_pairs,
       |  quantile_cont(slope_u, CAST(0.5 AS DOUBLE)) / 1e6 AS slope
       | FROM slopes GROUP BY 1),
       |inter AS (
       | SELECT d.event_type, m.n_pairs, m.slope,
       |  quantile_cont(CAST(floor((d.ym / 1000.0 - m.slope * d.day) * 1e6
       |   + 0.5) AS BIGINT), CAST(0.5 AS DOUBLE)) AS icpt_u
       | FROM daily d JOIN med m USING (event_type)
       | GROUP BY 1, 2, 3)
       |SELECT event_type, n_pairs, CAST(slope AS REAL) AS ts_slope,
       | CAST(icpt_u / 1e6 AS REAL) AS ts_intercept
       |FROM inter ORDER BY event_type""".stripMargin

  // ---- u27: autocorrelation function (ACF) ---------------------------------
  // The first diagnostic read on any series (Box & Jenkins):
  // r_k = sum (y_t - ybar)(y_{t+k} - ybar) / sum (y_t - ybar)^2 for
  // lags 1..7, per event_type, with the +/-1.96/sqrt(n) white-noise
  // band every correlogram draws. The series is the daily milli-long
  // table (bounded by the day span); the lag alignment is one
  // equi-join on (type, day + k) against a 7-row broadcast lag grid —
  // no window per lag, no corpus-sized anything. Centered products
  // milli-quantize per term (m26's discipline), the denominator comes
  // from one per-type variance pass, and each r_k is a single double
  // division cast float32.
  private val acfMaxLag = 7
  private def u27(s: SparkSession, dir: String): DataFrame = {
    val ev = rd(s, dir, "events")
    val daily = ev
      .select(col("event_type"), expr(s"ts div $nsPerDay").as("day"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(org.apache.spark.sql.functions.sum(col("vm")).as("ym"))
      .localCheckpoint() // mean pass, variance pass, both join sides
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        org.apache.spark.sql.functions.sum(col("ym")).as("sy"))
    val centered = daily.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n_days"),
        expr("""CAST(floor((ym / 1000.0
               | - CAST(sy AS DOUBLE) / 1000.0 / n_days) * 1000 + 0.5)
               |AS BIGINT)""".stripMargin).as("cq"))
      .localCheckpoint()
    val varp = centered.groupBy(col("event_type"))
      .agg(org.apache.spark.sql.functions.sum(expr("cq * cq")).as("den"))
    val lags = s.range(1, acfMaxLag + 1).select(col("id").as("lag"))
    val num = centered.crossJoin(broadcast(lags))
      .select(col("event_type"), (col("day") + col("lag")).as("day"),
        col("lag"), col("cq").as("cq_a"))
      .join(centered.select(col("event_type"), col("day"),
        col("cq").as("cq_b")), Seq("event_type", "day"))
      .groupBy(col("event_type"), col("lag"))
      .agg(org.apache.spark.sql.functions.sum(expr("cq_a * cq_b")).as("num"),
        count(lit(1)).as("n_pairs"))
    num.join(broadcast(varp), Seq("event_type"))
      .join(broadcast(stats.select(col("event_type"), col("n_days"))),
        Seq("event_type"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        expr("CAST(CAST(num AS DOUBLE) / den AS FLOAT)").as("acf"),
        expr("CAST(1.96 / sqrt(CAST(n_days AS DOUBLE)) AS FLOAT)")
          .as("wn_band"))
      .orderBy(col("event_type"), col("lag"))
  }
  private val u27Sql =
    s"""WITH daily AS (
       | SELECT event_type, epoch_ns(ts) // $nsPerDay AS day,
       |  CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS ym
       | FROM events GROUP BY 1, 2),
       |stats AS (
       | SELECT event_type, COUNT(*) AS n_days, CAST(SUM(ym) AS BIGINT) AS sy
       | FROM daily GROUP BY 1),
       |centered AS (
       | SELECT d.event_type, d.day, st.n_days,
       |  CAST(floor((d.ym / 1000.0
       |   - CAST(st.sy AS DOUBLE) / 1000.0 / st.n_days) * 1000 + 0.5)
       |  AS BIGINT) AS cq
       | FROM daily d JOIN stats st USING (event_type)),
       |varp AS (
       | SELECT event_type, CAST(SUM(cq * cq) AS BIGINT) AS den
       | FROM centered GROUP BY 1),
       |lags AS (SELECT unnest(generate_series(1, $acfMaxLag)) AS lag),
       |num AS (
       | SELECT a.event_type, l.lag,
       |  CAST(SUM(a.cq * b.cq) AS BIGINT) AS num, COUNT(*) AS n_pairs
       | FROM centered a CROSS JOIN lags l
       | JOIN centered b
       |  ON b.event_type = a.event_type AND b.day = a.day + l.lag
       | GROUP BY 1, 2)
       |SELECT n.event_type, n.lag, n.n_pairs,
       | CAST(CAST(n.num AS DOUBLE) / v.den AS REAL) AS acf,
       | CAST(1.96 / sqrt(CAST(st.n_days AS DOUBLE)) AS REAL) AS wn_band
       |FROM num n JOIN varp v USING (event_type)
       |JOIN stats st USING (event_type)
       |ORDER BY n.event_type, n.lag""".stripMargin

  // ---- u28: partial autocorrelation (PACF) ---------------------------------
  // u27's Box-Jenkins companion: phi_kk via the Durbin-Levinson
  // recursion over the 7 ACF values per event_type. The recursion is
  // O(lag^2) on a 7-row-per-type table, so it is UNROLLED into SQL
  // text by [[durbinLevinsonSql]] and executed by BOTH engines — Spark
  // SQL over a temp view and DuckDB as the oracle — from the SAME
  // generated string (only the dialect-specific ACF CTE underneath
  // differs: `ts div` + explode(sequence) vs `epoch_ns //` +
  // unnest(generate_series)). Identical expression order in IEEE
  // doubles ⇒ bit-identical phi values, cast float32 at the end. At
  // scale the heavy part is the ACF aggregation (same shape as u27,
  // data-sized); the recursion itself touches n_types×7 rows.
  private def durbinLevinsonSql(acfCte: String): String = {
    val sb = new StringBuilder(acfCte)
    sb ++= ",\nacfw AS (SELECT event_type"
    for (k <- 1 to acfMaxLag)
      sb ++= s", MAX(CASE WHEN lag = $k THEN r END) AS r$k"
    sb ++= " FROM acfr GROUP BY event_type)"
    var prev = "acfw"
    for (k <- 1 to acfMaxLag) {
      if (k == 1) {
        sb ++= s",\nk1 AS (SELECT *, r1 AS p11 FROM $prev)"
        prev = "k1"
      } else {
        val num = (1 until k).map(j => s"p${k - 1}$j * r${k - j}").mkString(" + ")
        val den = (1 until k).map(j => s"p${k - 1}$j * r$j").mkString(" + ")
        sb ++= s",\nk$k AS (SELECT *, (r$k - ($num)) / (1 - ($den)) AS p$k$k FROM $prev)"
        prev = s"k$k"
        if (k < acfMaxLag) {
          val upd = (1 until k)
            .map(j => s"p${k - 1}$j - p$k$k * p${k - 1}${k - j} AS p$k$j")
            .mkString(", ")
          sb ++= s",\nk${k}b AS (SELECT *, $upd FROM k$k)"
          prev = s"k${k}b"
        }
      }
    }
    val arms = (1 to acfMaxLag)
      .map(k => s"SELECT event_type, $k AS lag, CAST(p$k$k AS FLOAT) AS pacf FROM $prev")
      .mkString("\n UNION ALL ")
    sb ++= s"\nSELECT * FROM (\n $arms\n) ORDER BY event_type, lag"
    sb.result()
  }
  /** The u27 ACF pipeline as a dialect-parameterized CTE chain ending in
    * `acfr(event_type, lag, r)` with r still DOUBLE (full precision for
    * the recursion). */
  private def acfCte(dayExpr: String, lagsCte: String): String =
    s"""WITH daily AS (
       | SELECT event_type, $dayExpr AS day,
       |  CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS ym
       | FROM events GROUP BY 1, 2),
       |stats AS (
       | SELECT event_type, COUNT(*) AS n_days, CAST(SUM(ym) AS BIGINT) AS sy
       | FROM daily GROUP BY 1),
       |centered AS (
       | SELECT d.event_type, d.day,
       |  CAST(floor((d.ym / 1000.0
       |   - CAST(st.sy AS DOUBLE) / 1000.0 / st.n_days) * 1000 + 0.5)
       |  AS BIGINT) AS cq
       | FROM daily d JOIN stats st USING (event_type)),
       |varp AS (
       | SELECT event_type, CAST(SUM(cq * cq) AS BIGINT) AS den
       | FROM centered GROUP BY 1),
       |lags AS ($lagsCte),
       |num AS (
       | SELECT a.event_type, l.lag,
       |  CAST(SUM(a.cq * b.cq) AS BIGINT) AS num
       | FROM centered a CROSS JOIN lags l
       | JOIN centered b
       |  ON b.event_type = a.event_type AND b.day = a.day + l.lag
       | GROUP BY 1, 2),
       |acfr AS (
       | SELECT n.event_type, n.lag, CAST(n.num AS DOUBLE) / v.den AS r
       | FROM num n JOIN varp v USING (event_type))""".stripMargin
  private def u28(s: SparkSession, dir: String): DataFrame = {
    rd(s, dir, "events").createOrReplaceTempView("events")
    s.sql(durbinLevinsonSql(acfCte(
      s"ts div $nsPerDay",
      s"SELECT explode(sequence(1, $acfMaxLag)) AS lag")))
  }
  private val u28Sql = durbinLevinsonSql(acfCte(
    s"epoch_ns(ts) // $nsPerDay",
    s"SELECT unnest(generate_series(1, $acfMaxLag)) AS lag"))

  // ---- u29: Ljung-Box portmanteau test --------------------------------------
  // The standard "is this series white noise" decision on top of the
  // ACF (Ljung & Box 1978): Q = n(n+2) Σ_{k=1..h} r_k²/(n-k) per
  // event_type, compared to the χ²(h) 5% critical value. Same
  // shared-SQL-text discipline as u28: the dialect-specific ACF CTE
  // underneath, one generated tail both engines run verbatim. The
  // 7-term double sum's order sensitivity (~1 ulp) is absorbed by the
  // float32 cast. Scale: identical to u27 — the ACF aggregation is the
  // data-sized part; the tail touches n_types × 7 rows.
  private val lbChi2Crit5pct = 14.067140449340169 // χ²(7), α = 0.05
  private def ljungBoxSql(acf: String): String =
    s"""$acf,
       |lb AS (
       | SELECT r.event_type, st.n_days,
       |  SUM(r.r * r.r / (st.n_days - r.lag)) AS s, COUNT(*) AS h
       | FROM acfr r JOIN stats st USING (event_type)
       | GROUP BY 1, 2)
       |SELECT event_type, n_days, h,
       | CAST(n_days * (n_days + 2) * s AS FLOAT) AS q_lb,
       | CASE WHEN n_days * (n_days + 2) * s > $lbChi2Crit5pct
       |  THEN 1 ELSE 0 END AS reject_white_noise
       |FROM lb ORDER BY event_type""".stripMargin
  private def u29(s: SparkSession, dir: String): DataFrame = {
    rd(s, dir, "events").createOrReplaceTempView("events")
    s.sql(ljungBoxSql(acfCte(
      s"ts div $nsPerDay",
      s"SELECT explode(sequence(1, $acfMaxLag)) AS lag")))
  }
  private val u29Sql = ljungBoxSql(acfCte(
    s"epoch_ns(ts) // $nsPerDay",
    s"SELECT unnest(generate_series(1, $acfMaxLag)) AS lag"))

  // ---- u30: Holt-Winters additive (triple exponential smoothing) ------------
  // u19's Holt trend extended with the seasonal component — the full
  // classical forecaster over the per-type daily series (season length
  // 7, online-initialized indices: l = x_0, b = 0, s = 0, so the whole
  // recursion is ONE fold with no two-phase bootstrap). The per-type
  // sequential fold runs in mapGroups over the DAILY table (bounded by
  // day span × types, the u19/a14 size-gated shape — the corpus-sized
  // work is the daily aggregation); the oracle replays the identical
  // fold as a DuckDB list_reduce over a 10-element state vector
  // [t, l, b, s0..s6], with every float operation spelled in the same
  // order (lp/bp/s-update inlined textually), so the trajectories are
  // bit-identical.
  private val hwA = 0.3; private val hwB = 0.1; private val hwG = 0.2
  private def u30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = rd(s, dir, "events")
      .select(col("event_type"), expr(s"ts div $nsPerDay").as("day"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(org.apache.spark.sql.functions.sum(col("vm")).as("ym"))
      .as[(String, Long, Long)]
    daily.groupByKey(_._1)
      .mapGroups { (typ, rows) =>
        val xs = rows.toVector.sortBy(_._2).map(_._3.toDouble / 1000.0)
        var l = 0.0; var b = 0.0
        val sv = new Array[Double](7)
        var t = 0
        xs.foreach { x =>
          if (t == 0) { l = x; b = 0.0 }
          else {
            val sk = sv(t % 7)
            val lp = hwA * (x - sk) + (1 - hwA) * (l + b)
            val bp = hwB * (lp - l) + (1 - hwB) * b
            sv(t % 7) = hwG * (x - lp) + (1 - hwG) * sk
            l = lp; b = bp
          }
          t += 1
        }
        (typ, xs.size.toLong, l.toFloat, b.toFloat,
          (l + b + sv(t % 7)).toFloat)
      }
      .toDF("event_type", "n_days", "level", "trend", "forecast_1")
      .orderBy(col("event_type"))
  }
  private val u30Sql = {
    // the fold state is [t, l, b, s0..s6]; sk/lp are inlined textually
    // so both engines execute the same double expression tree
    val sk = s"acc[4 + (CAST(acc[1] AS INT) % 7)]"
    val lp = s"($hwA * (v[1] - $sk) + ${1 - hwA} * (acc[2] + acc[3]))"
    val sCases = (0 until 7).map { k =>
      s"CASE WHEN (CAST(acc[1] AS INT) % 7) = $k " +
        s"THEN $hwG * (v[1] - $lp) + ${1 - hwG} * $sk ELSE acc[${4 + k}] END"
    }.mkString(",\n      |    ")
    s"""WITH daily AS (
       | SELECT event_type, epoch_ns(ts) // $nsPerDay AS day,
       |  CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS ym
       | FROM events GROUP BY 1, 2),
       |ord AS (
       | SELECT event_type, COUNT(*) AS n_days,
       |  list(CAST(ym AS DOUBLE) / 1000.0 ORDER BY day ASC) AS vs
       | FROM daily GROUP BY 1),
       |fold AS (
       | SELECT event_type, n_days,
       |  list_reduce(
       |   list_prepend(
       |    [CAST(1 AS DOUBLE), vs[1], 0, 0, 0, 0, 0, 0, 0, 0],
       |    list_transform(vs[2:], x -> [x])),
       |   (acc, v) -> [acc[1] + 1,
       |    $lp,
       |    $hwB * ($lp - acc[2]) + ${1 - hwB} * acc[3],
       |    $sCases]) AS st
       | FROM ord)
       |SELECT event_type, n_days,
       | CAST(st[2] AS REAL) AS level, CAST(st[3] AS REAL) AS trend,
       | CAST(st[2] + st[3] + st[4 + (CAST(st[1] AS INT) % 7)] AS REAL)
       |  AS forecast_1
       |FROM fold ORDER BY event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "u27_acf" -> (u27 _),
    "u28_pacf" -> (u28 _),
    "u29_ljung_box" -> (u29 _),
    "u30_holt_winters" -> (u30 _),
    "u26_theil_sen" -> (u26 _),
    "u25_kaplan_meier" -> (u25 _),
    "u24_seasonal_decomp" -> (u24 _),
    "u18_bitemporal" -> (u18 _),
    "u19_holt_trend" -> (u19 _),
    "u23_rfm_segments" -> (u23 _),
    "u21_time_weighted_alloc" -> (u21 _),
    "u17_cusum" -> (u17 _),
    "u14_markov_transitions" -> (u14 _),
    "u15_top_paths" -> (u15 _),
    "u16_group_ols" -> (u16 _),
    "u12_gaps_islands" -> (u12 _),
    "u13_seasonal_anomaly" -> (u13 _),
    "j16_asof_forward" -> (j16 _),
    "u11_twap_vwap" -> (u11 _),
    "j15_asof_tolerance" -> (j15 _),
    "a24_weighted_quantiles" -> (a24 _),
    "j14_range_join_rule" -> (j14 _),
    "u10_ewma" -> (u10 _),
    "u09_scd2_history" -> (u09 _),
    "j13_interval_overlap" -> (j13 _),
    "u08_peak_concurrency" -> (u08 _),
    "u06_gap_fill" -> (u06 _),
    "u07_resample_ohlc" -> (u07 _),
    "u05_touch_attribution" -> (u05 _),
    "u04_cdc_apply" -> (u04 _),
    "u01_funnel_order" -> (u01 _),
    "u02_cohort_retention" -> (u02 _),
    "u03_session_window" -> (u03 _),
    "a20_window_distinct" -> (a20 _),
    "j11_bucketed_range_join" -> (j11 _),
    "j10_asof_join" -> (j10 _),
    "j12_asof_native" -> (j12 _),
    "r10_pivot" -> (r10 _),
    "r11_unpivot_stack" -> (r11 _),
    "t07_text_normalize" -> (t07 _),
    "a18_exact_quantiles" -> (a18 _),
    "a19_range_frame_window" -> (a19 _)
  )

  val oracle: collection.MapView[String, String] = Map(
    "u27_acf" -> u27Sql,
    "u28_pacf" -> u28Sql,
    "u29_ljung_box" -> u29Sql,
    "u30_holt_winters" -> u30Sql,
    "u26_theil_sen" -> u26Sql,
    "u25_kaplan_meier" -> u25Sql,
    "u24_seasonal_decomp" -> u24Sql,
    "u18_bitemporal" -> u18Sql,
    "u19_holt_trend" -> u19Sql,
    "u23_rfm_segments" -> u23Sql,
    "u21_time_weighted_alloc" -> u21Sql,
    "u17_cusum" -> u17Sql,
    "u14_markov_transitions" -> u14Sql,
    "u15_top_paths" -> u15Sql,
    "u16_group_ols" -> u16Sql,
    "u12_gaps_islands" -> u12Sql,
    "u13_seasonal_anomaly" -> u13Sql,
    "j16_asof_forward" -> j16Sql,
    "u11_twap_vwap" -> u11Sql,
    "j15_asof_tolerance" -> j15Sql,
    "a24_weighted_quantiles" -> a24Sql,
    "j14_range_join_rule" -> j14Sql,
    "u10_ewma" -> u10Sql,
    "u09_scd2_history" -> u09Sql,
    "j13_interval_overlap" -> j13Sql,
    "u08_peak_concurrency" -> u08Sql,
    "u06_gap_fill" -> u06Sql,
    "u07_resample_ohlc" -> u07Sql,
    "u05_touch_attribution" -> u05Sql,
    "u04_cdc_apply" -> u04Sql,
    "u01_funnel_order" -> u01Sql,
    "u02_cohort_retention" -> u02Sql,
    "u03_session_window" -> u03Sql,
    "a20_window_distinct" -> a20Sql,
    "j11_bucketed_range_join" -> j11Sql,
    "j10_asof_join" -> j10Sql,
    "j12_asof_native" -> j12Sql,
    "r10_pivot" -> r10Sql,
    "r11_unpivot_stack" -> r11Sql,
    "t07_text_normalize" -> t07Sql,
    "a18_exact_quantiles" -> a18Sql,
    "a19_range_frame_window" -> a19Sql
  ).view
}
