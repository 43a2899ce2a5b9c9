package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GraftSession, Tables}

/** Time-series / event-stream query pack over the `events` table.
  *
  * This generalizes the reference's hourly price-trend analytics
  * (/root/reference/README.md:43-45 — time-bucketed aggregation per entity)
  * and its freshness semantics (/root/reference/include/soda/checks.yml:7-9)
  * to arbitrary event streams: bucketing, sliding windows, sessionization,
  * as-of lookups, JSON payload extraction.
  *
  * Nanosecond note: [[graft.Tables.events]] canonicalizes `ts` to a raw
  * long of epoch NANOSECONDS whatever the file's physical type (currently
  * parquet timestamp[us]; µs→ns is exact in int64). We keep the long-ns
  * value as the ordering key — order-identical to DuckDB's timestamp
  * ordering — and derive second-truncated timestamps for output, so both
  * engines agree exactly.
  * Output timestamps are emitted as formatted strings (Spark writes
  * UTC-instant parquet, DuckDB naive — strings sidestep the representation
  * gap).
  *
  * Scale notes: every query here groups or windows by (user, time) style
  * keys — one shuffle each, no driver-side state. Sessionization is the
  * classic lag+cumsum linear-scan-per-key pattern: a single shuffle by
  * user_id, then sorted within partitions; at 100 TB this is the layout a
  * time-partitioned event lake already has.
  */
object Events {
  import Q._

  private val fmtPattern = "yyyy-MM-dd HH:mm:ss"
  /** epoch-seconds (long) → formatted second-truncated string.
    * All ns→s conversion happens through SQL `div` (exact integer division;
    * a double round-trip would lose precision — ns values exceed 2^53). */
  private def fmtS(c: Column): Column =
    date_format(timestamp_seconds(c), fmtPattern)

  private def withDerived(df: DataFrame): DataFrame = df
    .withColumn("epoch_s", expr("ts div 1000000000"))
    .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))

  // --- q24: hourly trend per event type (the Metabase dashboard shape) ----
  def q24(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withDerived(Tables.events(s, d))
      .groupBy($"event_type",
        date_format(date_trunc("hour", $"ts_us"), fmtPattern).as("hour_start"))
      .agg(count(lit(1)).as("n_events"),
        dsum($"value").as("sum_value"),
        davg($"value").as("avg_value"))
      .orderBy($"event_type", $"hour_start")
  }
  val q24Sql: String =
    """SELECT event_type,
      |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      |FROM events
      |GROUP BY event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
      |ORDER BY event_type, hour_start""".stripMargin

  // --- q25: tumbling 5-minute windows (batch form of streaming window) ---
  def q25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withDerived(Tables.events(s, d))
      .groupBy(window($"ts_us", "5 minutes").getField("start").as("wstart_ts"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select(date_format($"wstart_ts", fmtPattern).as("wstart"),
        $"n_events", $"sum_value")
      .orderBy($"wstart")
  }
  val q25Sql: String =
    """SELECT
      |  strftime(date_trunc('minute', ts) - (CAST(minute(ts) AS INT) % 5) * INTERVAL 1 MINUTE,
      |           '%Y-%m-%d %H:%M:%S') AS wstart,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY wstart""".stripMargin

  // --- q26: sliding windows — 10-minute window, 5-minute slide -----------
  // Each event lands in exactly two windows; Spark's window() generator
  // expands them, the oracle unnests the same two starts.
  def q26(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withDerived(Tables.events(s, d))
      .groupBy(window($"ts_us", "10 minutes", "5 minutes")
        .getField("start").as("wstart_ts"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select(date_format($"wstart_ts", fmtPattern).as("wstart"),
        $"n_events", $"sum_value")
      .orderBy($"wstart")
  }
  val q26Sql: String =
    """WITH buckets AS (
      |  SELECT value,
      |    date_trunc('minute', ts) - (CAST(minute(ts) AS INT) % 5) * INTERVAL 1 MINUTE AS b0
      |  FROM events
      |), expanded AS (
      |  SELECT value, unnest([b0, b0 - INTERVAL 5 MINUTE]) AS wstart_ts FROM buckets
      |)
      |SELECT strftime(wstart_ts, '%Y-%m-%d %H:%M:%S') AS wstart,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM expanded
      |GROUP BY 1
      |ORDER BY wstart""".stripMargin

  // --- q27: sessionization — 30-minute inactivity gap ---------------------
  // lag + cumulative sum per user: one shuffle on user_id, linear in-partition
  // scan. This is the batch twin of streaming session_window().
  def q27(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    withDerived(Tables.events(s, d))
      .withColumn("new_session",
        when(($"epoch_s" - lag($"epoch_s", 1).over(wOrd)) > 1800 ||
          lag($"epoch_s", 1).over(wOrd).isNull, 1).otherwise(0))
      .withColumn("session_id",
        sum($"new_session").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        fmtS(min($"epoch_s")).as("session_start"),
        fmtS(max($"epoch_s")).as("session_end"),
        (max($"epoch_s") - min($"epoch_s")).as("duration_s"),
        dsum($"value").as("sum_value"))
      .orderBy($"user_id", $"session_id")
  }
  val q27Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
      |    CASE WHEN CAST(epoch(date_trunc('second', ts)) AS BIGINT)
      |           - LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) OVER w > 1800
      |           OR LAG(ts) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  -- CAST: DuckDB window SUM(INTEGER) yields HUGEINT (int128); the
      |  -- driver hash-compares raw values, so int64 vs int128 mismatches
      |  -- even when numerically equal. Spark emits BIGINT here.
      |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S') AS session_end,
      |  MAX(epoch_s) - MIN(epoch_s) AS duration_s,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // --- q28: JSON payload extraction (A2/A4 scalar-function family) --------
  def q28(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withDerived(Tables.events(s, d))
      .withColumn("k_val", get_json_object($"props", "$.k").cast("int"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"k_val").as("sum_k"),
        sum(when($"k_val" >= 50, 1).otherwise(0)).as("n_big_k"),
        max($"k_val").as("max_k"))
      .orderBy($"event_type")
  }
  val q28Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      |  CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_big_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q29: as-of lookup — latest signup at-or-before each purchase -------
  // The time-series point lookup the reference's domain implies (price as of
  // time T). Implemented without a range join: last(ignoreNulls) over an
  // event-time window — one shuffle on the key, linear scan, no explosion.
  def q29(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"type_rank", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    withDerived(Tables.events(s, d))
      .withColumn("type_rank", when($"event_type" === "signup", 0).otherwise(1))
      .withColumn("signup_epoch",
        last(when($"event_type" === "signup", $"epoch_s"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id",
        fmtS($"epoch_s").as("purchase_time"),
        fmtS($"signup_epoch").as("last_signup_time"))
      .orderBy($"event_id")
  }
  val q29Sql: String =
    """SELECT event_id, user_id,
      |  strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS purchase_time,
      |  strftime(date_trunc('second', last_signup), '%Y-%m-%d %H:%M:%S') AS last_signup_time
      |FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts, CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup
      |  FROM events)
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  // --- q30: per-user stream summary with min_by/max_by --------------------
  def q30(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withDerived(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"event_type").as("n_types"),
        min_by($"event_type", $"ts").as("first_type"),
        max_by($"event_type", $"ts").as("last_type"),
        fmtS(min($"epoch_s")).as("first_seen"),
        fmtS(max($"epoch_s")).as("last_seen"),
        dsum($"value").as("sum_value"))
      .orderBy($"user_id")
  }
  val q30Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  COUNT(DISTINCT event_type) AS n_types,
      |  min_by(event_type, ts) AS first_type,
      |  max_by(event_type, ts) AS last_type,
      |  strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS first_seen,
      |  strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S') AS last_seen,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // --- q34: q24's hourly trend THROUGH the streaming engine ----------------
  // The oracle-gated proof that the Structured Streaming path computes the
  // same answer as the batch twin: the events table is replayed as a file
  // stream, aggregated by Streams.hourlyTrend (watermarked tumbling
  // windows), drained with Trigger.AvailableNow into a memory sink, and the
  // sink contents are hash-compared against the same SQL the batch q24
  // uses. Complete mode keeps every window visible; within a single
  // AvailableNow backlog nothing is late, so the watermark drops no rows.
  // Sink names are FIXED: runToMemory drops the previous invocation's view
  // before re-registering, so repeated runs (bench/verify share a session)
  // retain at most one result copy per query instead of leaking one per
  // invocation.
  def q34(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val trend = graft.streaming.Streams.hourlyTrend(
      graft.streaming.Streams.eventsStream(s, d))
    // Complete mode re-emits the FULL window state every batch, so the
    // trailing no-data micro-batch would only replace the sink contents
    // with an identical copy (plus pay state eviction for a query about
    // to stop) — skip it, the q58 lever applied to the Complete drains.
    graft.streaming.Streams.runToMemory(s, trend, "q34_sink",
      noDataBatch = false)
      .orderBy($"event_type", $"hour_start")
  }
  val q34Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, hour_start""".stripMargin

  // --- q95: q27's sessionization THROUGH flatMapGroupsWithState ------------
  // Oracle-gates the custom-state streaming path (q34 covers the built-in
  // windowed aggregation; this covers the arbitrary-state API): the events
  // table replays as a file stream, the flatMapGroupsWithState sessionizer
  // folds each user's events into 30-minute-gap sessions, the AvailableNow
  // drain flushes into a memory sink, and the closed sessions hash-match
  // the same lag+cumsum SQL as batch q27. State is one open session per
  // live user — memory proportional to active users, not the stream.
  def q95(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val closed = graft.streaming.Streams.sessionizeWithState(s,
      graft.streaming.Streams.eventsStream(s, d))
    graft.streaming.Streams.runDatasetToMemory(s, closed, "q95_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .select($"user_id",
        fmtS($"session_start_s").as("session_start"),
        fmtS($"session_end_s").as("session_end"),
        $"n_events")
      .orderBy($"user_id", $"session_start")
  }
  val q95Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
      |    CASE WHEN CAST(epoch(date_trunc('second', ts)) AS BIGINT)
      |           - LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) OVER w > 1800
      |           OR LAG(ts) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id,
      |  strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S') AS session_end,
      |  COUNT(*) AS n_events
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  // --- q92: q29's as-of lookup THROUGH the native physical operator --------
  // Same semantics as q29, but planned as graft.plans.AsOfJoinExec (logical
  // node -> planner strategy -> sort-merge SparkPlan, injected via
  // GraftExtensions) instead of the composed union+window form — and
  // hash-checked against the identical oracle SQL. Purchases are the left
  // side, signups the right; the attached payload is the matched signup ts
  // itself, so equal-ts signup ties (the one nondeterministic axis of any
  // as-of join) cannot affect the output.
  def q92(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = withDerived(Tables.events(s, d))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val signups = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts")
    graft.plans.NativeAsOf.join(purchases, signups,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts")
      .select($"event_id", $"user_id",
        fmtS(expr("ts div 1000000000")).as("purchase_time"),
        fmtS(expr("ts_r div 1000000000")).as("last_signup_time"))
      .orderBy($"event_id")
  }
  val q92Sql: String =
    """SELECT event_id, user_id,
      |  strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS purchase_time,
      |  strftime(date_trunc('second', last_signup), '%Y-%m-%d %H:%M:%S') AS last_signup_time
      |FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts, CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup
      |  FROM events)
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  // --- q58: stream-stream interval join THROUGH the streaming engine -------
  // Oracle-gates the third pillar of the streaming surface (q34 = windowed
  // aggregation, q95 = arbitrary state; this = stream-stream join): two
  // independent watermarked streams over the events table are inner-joined
  // on user + a one-hour event-time range, drained with AvailableNow into a
  // memory sink, and the matched pairs hash-match the equivalent batch-join
  // SQL. Append mode: an inner interval join emits each qualifying pair
  // exactly once.
  def q58(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val joined = graft.streaming.Streams.viewPurchaseJoin(s, d, "inner")
    // inner join: every qualifying pair is emitted in the data batch
    // itself, so the trailing no-data micro-batch would only pay state
    // eviction for a query that is about to stop — skip it (the
    // watermark-driven outer/append drains q157/q286/q34 keep theirs).
    graft.streaming.Streams.runToMemory(s, joined, "q58_sink",
      org.apache.spark.sql.streaming.OutputMode.Append(), noDataBatch = false)
      .select($"view_id", $"purchase_id", $"v_user".as("user_id"),
        fmtS(expr("v_ns div 1000000000")).as("view_time"),
        fmtS(expr("p_ns div 1000000000")).as("purchase_time"))
      .orderBy($"view_id", $"purchase_id")
  }
  val q58Sql: String =
    """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
      |  strftime(date_trunc('second', v.ts), '%Y-%m-%d %H:%M:%S') AS view_time,
      |  strftime(date_trunc('second', p.ts), '%Y-%m-%d %H:%M:%S') AS purchase_time
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND epoch_ns(p.ts) - epoch_ns(v.ts) BETWEEN 0 AND 3600000000000
      |ORDER BY view_id, purchase_id""".stripMargin

  // --- q121: stream-static dimension join THROUGH the streaming engine -----
  // Oracle-gates the fourth pillar of the streaming surface (q34 = windowed
  // aggregation, q95 = arbitrary state, q58 = stream-stream join; this =
  // stream-static enrichment): the event stream left-joins the static
  // customer dimension per micro-batch. Stateless — Append mode emits each
  // enriched event exactly once — and the broadcast dimension means the
  // drained result must hash-match the equivalent batch join SQL.
  def q121(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val joined = graft.streaming.Streams.enrichAgainstDimension(s, d)
    graft.streaming.Streams.runToMemory(s, joined, "q121_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy($"event_id")
  }
  val q121Sql: String =
    """SELECT event_id, user_id, event_type,
      |  coalesce(c_mktsegment, 'none') AS segment
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY event_id""".stripMargin

  // --- q191: stream-static ANTI join (blocklist suppression) ----------------
  // Completes the stream-static join axis q121's enrichment opened: drop
  // every event whose user sits in a static exclusion table (AUTOMOBILE-
  // segment customers) — the opt-out/blocklist suppression every ingest
  // pipeline runs. Stateless, broadcast, zero added shuffles
  // (Streams.suppressByDimension); the oracle is the batch NOT EXISTS.
  // Rolled up per type so the check is count-shaped (a leaked or
  // over-suppressed event shifts a count and misses the hash).
  def q191(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kept = graft.streaming.Streams.suppressByDimension(s, d)
    graft.streaming.Streams.runToMemory(s, kept, "q191_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_kept"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }
  val q191Sql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events e
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM customer c
      |  WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'AUTOMOBILE')
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q97: time-series gap fill — hourly spine + forward fill -------------
  // Resampling with interpolation: per event type, build the complete hourly
  // spine between its first and last active hour (sequence+explode — a
  // generator, no driver loop), left-join the observed hourly aggregates,
  // and forward-fill the last known sum into the gap hours
  // (last(ignoreNulls) over an ordered window). The dashboard shape for
  // sparse series: no silent missing buckets.
  //
  // Scale: the spine is generated from the AGGREGATED per-type min/max (5
  // rows here; bounded by #types), the join and the fill both key on
  // (event_type, hour) — one shuffle each over data already reduced to
  // hours. At 100 TB the raw scan reduces to hours before anything joins.
  def q97(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = withDerived(Tables.events(s, d))
      .withColumn("h", expr("((ts div 1000000000) div 3600) * 3600"))
      .groupBy($"event_type", $"h")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
    val spine = hourly.groupBy($"event_type")
      .agg(min($"h").as("minh"), max($"h").as("maxh"))
      .select($"event_type", explode(sequence($"minh", $"maxh", lit(3600L))).as("h"))
    val w = Window.partitionBy($"event_type").orderBy($"h")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("is_gap", when($"n_events".isNull, 1).otherwise(0))
      .withColumn("filled_sum", last($"sum_value", ignoreNulls = true).over(w))
      .select($"event_type", fmtS($"h").as("hour_start"),
        coalesce($"n_events", lit(0L)).as("n_events"), $"is_gap", $"filled_sum")
      .orderBy($"event_type", $"hour_start")
  }
  val q97Sql: String =
    """WITH hourly AS (
      |  SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2
      |), spine AS (
      |  SELECT event_type, unnest(range(minh, maxh + 3600, 3600)) AS h
      |  FROM (SELECT event_type, MIN(h) AS minh, MAX(h) AS maxh FROM hourly GROUP BY 1)
      |), joined AS (
      |  SELECT s.event_type, s.h, hourly.n_events, hourly.sum_value
      |  FROM spine s LEFT JOIN hourly ON s.event_type = hourly.event_type AND s.h = hourly.h
      |)
      |SELECT event_type,
      |  strftime(make_timestamp(h * 1000000), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  COALESCE(n_events, 0) AS n_events,
      |  CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS is_gap,
      |  last_value(sum_value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
      |FROM joined
      |ORDER BY event_type, hour_start""".stripMargin

  // --- q98: ordered event funnel — signup ≥ view ≥ purchase ----------------
  // Classic conversion funnel with ORDER semantics (each step must occur at
  // or after the previous step's first occurrence, not merely co-occur):
  // step k's cohort = users with a step-k event at/after their first
  // step-(k-1) qualifying time. Expressed through the reusable
  // operators/SeqPattern step-sequence compiler (round 13 — this query
  // and q305 used to hand-roll the identical cascade): per step one
  // conditional MIN + one cohort join; the per-step cohort tables are
  // tiny (≤ #users) so AQE broadcasts every chaining join. One user_id
  // shuffle per step at scale.
  def q98(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.SeqPattern
    val ev = withDerived(Tables.events(s, d))
    val steps = SeqPattern.funnel(ev, "user_id", "ts", Seq(
      SeqPattern.Step("1_signup", $"event_type" === "signup"),
      SeqPattern.Step("2_view_after_signup", $"event_type" === "view"),
      SeqPattern.Step("3_purchase_after_view", $"event_type" === "purchase")))
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    steps
      .withColumn("conv_from_first",
        $"n_users" * lit(1.0) /
          max(when($"step" === "1_signup", $"n_users")).over(wAll))
      .select($"step", $"n_users", $"conv_from_first")
      .orderBy($"step")
  }
  val q98Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY 1
      |), s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'view' AND e.ts >= s1.t1 GROUP BY 1
      |), s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1
      |), steps AS (
      |  SELECT '1_signup' AS step, (SELECT COUNT(*) FROM s1) AS n_users
      |  UNION ALL SELECT '2_view_after_signup', (SELECT COUNT(*) FROM s2)
      |  UNION ALL SELECT '3_purchase_after_view', (SELECT COUNT(*) FROM s3)
      |)
      |SELECT step, n_users,
      |  n_users * 1.0 / MAX(CASE WHEN step = '1_signup' THEN n_users END) OVER () AS conv_from_first
      |FROM steps
      |ORDER BY step""".stripMargin

  // --- q99: SCD2 interval build — change capture → validity ranges ---------
  // The warehouse slowly-changing-dimension pattern: each user's event-type
  // stream becomes versioned state rows [valid_from, valid_to) — consecutive
  // repeats collapse (change capture via lag), intervals close at the next
  // change (lead), the open interval gets the sentinel high date and
  // is_current=1. Both windows share one (user_id) partitioning: a single
  // shuffle, linear in-partition scans.
  def q99(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    withDerived(Tables.events(s, d))
      .withColumn("prev_type", lag($"event_type", 1).over(wOrd))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
      .withColumn("vt_epoch", lead($"epoch_s", 1).over(wOrd))
      .select($"user_id", $"event_type".as("state"),
        fmtS($"epoch_s").as("valid_from"),
        coalesce(fmtS($"vt_epoch"), lit("9999-12-31 00:00:00")).as("valid_to"),
        when($"vt_epoch".isNull, 1).otherwise(0).as("is_current"))
      .orderBy($"user_id", $"valid_from", $"state")
  }
  val q99Sql: String =
    """WITH changes AS (
      |  SELECT user_id, event_type AS state, ts, event_id FROM (
      |    SELECT user_id, event_type, ts, event_id,
      |      LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |    FROM events)
      |  WHERE prev_type IS NULL OR prev_type <> event_type
      |), intervals AS (
      |  SELECT user_id, state, ts AS vf,
      |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
      |  FROM changes
      |)
      |SELECT user_id, state,
      |  strftime(date_trunc('second', vf), '%Y-%m-%d %H:%M:%S') AS valid_from,
      |  COALESCE(strftime(date_trunc('second', vt), '%Y-%m-%d %H:%M:%S'),
      |           '9999-12-31 00:00:00') AS valid_to,
      |  CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM intervals
      |ORDER BY user_id, valid_from, state""".stripMargin

  // --- q114: last-touch attribution ------------------------------------------
  // The marketing-analytics classic: attribute each purchase to the
  // user's most recent preceding touch (view or click), then roll up
  // attributed revenue per touch type. One window pass does the whole
  // attribution — the touch timestamp and type are carried by two
  // last(·, ignoreNulls) over the SAME when(touch) predicate with a
  // rows-frame ending at 1 PRECEDING (strictly-before in the (ts,
  // event_id) total order), and both carried values are non-null on
  // every touch row, so they always come from the same row (the as-of
  // carry lesson from AsOfJoin). Purchases with no prior touch land in
  // the 'none' bucket. One user_id shuffle. Delays are computed in exact
  // int64 MICROseconds — DuckDB reads the parquet TIMESTAMP(NANOS)
  // column at µs resolution (observed live: its epoch_ns values are all
  // ×1000), so µs is the finest grid both engines share; the window
  // order uses the same µs value with event_id as the tiebreak, keeping
  // the total order identical on both sides.
  def q114(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val isTouch = $"event_type" === "view" || $"event_type" === "click"
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("touch_us", last(when(isTouch, $"ts_us"), ignoreNulls = true).over(w))
      .withColumn("touch_type", last(when(isTouch, $"event_type"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("touch", coalesce($"touch_type", lit("none")))
      .groupBy($"touch")
      .agg(count(lit(1)).as("n_purchases"),
        dsum($"value").as("attributed_value"),
        sum($"ts_us" - $"touch_us").as("sum_delay_us"))
      .orderBy($"touch")
  }
  val q114Sql: String =
    """WITH tagged AS (
      |  SELECT event_type, value,
      |    epoch_us(ts) - last_value(CASE WHEN event_type IN ('view', 'click')
      |        THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS delay_us,
      |    last_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END
      |        IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
      |  FROM events
      |)
      |SELECT COALESCE(touch_type, 'none') AS touch,
      |  COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value,
      |  CAST(SUM(delay_us) AS BIGINT) AS sum_delay_us
      |FROM tagged
      |WHERE event_type = 'purchase'
      |GROUP BY 1
      |ORDER BY touch""".stripMargin

  // --- q127: streaming freshness observability (A10's streaming twin) ------
  // Drains the watermarked hourly-trend stream and reports the engine's own
  // event-time telemetry (StreamingQueryProgress) AS DATA, hash-checked
  // against the batch table: the progress high-water mark must equal
  // max(ts) and the summed per-batch input counts must equal count(*).
  // This turns the observability path into an oracle-checked query — if
  // the telemetry ever drifts from the data it claims to describe, the
  // hash compare fails. The non-SQL-expressible parts (watermark ladder,
  // gate verdict vs a monitor clock) are spec'd in StreamingSpec.
  def q127(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamingFreshness, Streams}
    val (_, progress) = Streams.runToMemoryTracked(s,
      Streams.hourlyTrend(Streams.eventsStream(s, d)), "q127_sink")
    val informative = progress.map(StreamingFreshness.fromProgress)
      .filter(_.maxEventTime.isDefined)
    val maxEt = informative.lastOption.flatMap(_.maxEventTime)
    // the two hash-checkable values the telemetry must agree with the data
    // on: the event-time high-water mark (progress reports it at ms
    // precision — epoch ms matches DuckDB's epoch_ms floor of the µs max)
    // and the total rows the drain ingested (summed across batches, so the
    // check is batching-independent). Watermark/gate-verdict telemetry is
    // NOT SQL-expressible and lives in StreamingSpec's severity-ladder and
    // value-equivalence tests instead.
    Seq((
      maxEt.map(_.getTime).getOrElse(-1L),
      progress.map(p => StreamingFreshness.fromProgress(p).numInputRows).sum
    )).toDF("max_event_time_ms", "ingested_rows")
  }
  val q127Sql: String =
    """SELECT epoch_ms(max(ts)) AS max_event_time_ms,
      |  CAST(count(*) AS BIGINT) AS ingested_rows
      |FROM events""".stripMargin

  // --- q137: streaming heavy hitters (SpaceSaving over the event stream) ---
  // The bounded-memory top-k form of q30's per-user counting: the events
  // backlog drains through 8 hash-sharded SpaceSaving summaries held in
  // transformWithState MapState (RocksDB), and the merged final summary
  // yields the top-20 users. Capacity (4096/shard) far exceeds the
  // testdata's key cardinality (1500 users at sf0.1), so the summary is
  // EXACT and the oracle is the plain GROUP BY top-20 — the eviction
  // regime's (est, err) bounds are StreamingSpec's job. Tie-break:
  // (n_events desc, user_id) — engine-portable total order.
  def q137(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.Streams
    Streams.streamingHeavyHitters(s, d, keyCol = "user_id")
      .orderBy(col("est").desc, col("item"))
      .limit(20)
      .select(col("item").as("user_id"), col("est").as("n_events"))
  }
  val q137Sql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY n_events DESC, user_id
      |LIMIT 20""".stripMargin

  // --- q146: event-transition matrix (first-order Markov analytics) --------
  // The sequence-mining primitive behind next-event prediction and funnel
  // diagnosis: per user, order events by (ts, event_id) — event_id breaks
  // equal-timestamp ties deterministically — take (event_type →
  // next_type) bigrams via lead(), count transitions, and attach each
  // source type's row-share. One user-keyed window shuffle + one
  // (type, type)-keyed agg; probabilities are exact small-int ratios
  // (IEEE-identical cross-engine, the Q.scala rule).
  def q146(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = Tables.events(s, d)
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type", $"next_type")
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy($"event_type").agg(sum($"n").as("tot"))
    trans.join(broadcast(totals), "event_type")
      .select($"event_type", $"next_type", $"n",
        ($"n".cast("double") / $"tot").as("p"))
      .orderBy($"event_type", $"next_type")
  }
  val q146Sql: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS next_type
      |  FROM events),
      |trans AS (
      |  SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot FROM trans GROUP BY 1)
      |SELECT event_type, next_type, n, CAST(n AS DOUBLE) / tot AS p
      |FROM trans JOIN tot USING (event_type)
      |ORDER BY event_type, next_type""".stripMargin

  // --- q149: cumulative-distinct-users curve (running COUNT(DISTINCT)) ----
  // COUNT(DISTINCT) over a running window frame is unsupported in every
  // major engine; the standard re-expression is first-occurrence flags —
  // a user counts only in the hour of their first event (row_number over
  // (user | ts, event_id) == 1), and the cumulative curve is a running
  // SUM of per-hour first-touch counts. One user-keyed window shuffle +
  // one hour-keyed agg + a running sum over the (small) hour domain —
  // vs the naive per-frame re-scan, O(hours²) distinct work collapses to
  // linear. The hour-ordered running window runs over the bucket table
  // (≤ thousands of rows), not events — the q132/EquiDepth rule applies
  // only to data-sized windows.
  def q149(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val firsts = Tables.events(s, d)
      .withColumn("rn", row_number().over(wUser))
      .filter($"rn" === 1)
      .groupBy(fmtS(expr("(ts div 1000000000) div 3600 * 3600"))
        .as("hour_start"))
      .agg(count(lit(1)).as("new_users"))
    val wCum = Window.orderBy($"hour_start")
      .rowsBetween(Window.unboundedPreceding, 0)
    firsts
      .withColumn("cum_users", sum($"new_users").over(wCum))
      .orderBy($"hour_start")
  }
  val q149Sql: String =
    """WITH firsts AS (
      |  SELECT user_id, ts FROM (
      |    SELECT user_id, ts,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |    FROM events) t WHERE rn = 1),
      |hourly AS (
      |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |    CAST(COUNT(*) AS BIGINT) AS new_users
      |  FROM firsts GROUP BY 1)
      |SELECT hour_start, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY hour_start
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM hourly
      |ORDER BY hour_start""".stripMargin

  // --- q150: rolling-window anomaly detection (trailing z-score flag) ------
  // Per event type, each event is tested against the trailing 24-hour
  // window's mean/variance (RANGE frame on epoch seconds — event-TIME
  // bounded state, the streaming-compatible shape; peers at equal seconds
  // are in-frame by RANGE semantics, so no row-order tie-break is needed).
  // The flag |v−μ| > 3σ is evaluated WITHOUT doubles or sqrt: with values
  // on the 1e-2 integer grid, v·n−Σv and n·Σv²−(Σv)² are exact integers
  // and the test squares to (v·n−Σv)² > 9·(n·Σv²−(Σv)²) — decimal(38,0)
  // arithmetic in Spark, HUGEINT in DuckDB, bit-identical verdicts.
  //
  // Scale shape — boundary-replicated time slices: a naive
  // Window.partitionBy(event_type) caps parallelism at #types (5 here,
  // and a single reducer per type at 100 TB). Instead each event lands
  // in its own (type, day) slice AND is replicated once into the NEXT
  // day's slice as context-only; a trailing 24h frame never reaches
  // further back than the previous calendar day (86400 = exactly one
  // slice width), so every target row sees its full frame inside its
  // slice and context rows are dropped after the window. One shuffle on
  // (type, day) over 2× the data, parallelism ∝ types × days — the
  // standard overlap-replication layout for sliding windows over
  // time-partitioned lakes.
  def q150(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type", $"slice").orderBy($"epoch_s")
      .rangeBetween(-86400, 0)
    val big = "decimal(38,0)"
    val ev = withDerived(Tables.events(s, d))
      .withColumn("v", ($"value".cast("decimal(18,2)") * 100).cast("long"))
    val sliced = ev
      .withColumn("slice", expr("epoch_s div 86400"))
      .withColumn("ctx", lit(false))
      .unionByName(ev
        .withColumn("slice", expr("epoch_s div 86400 + 1"))
        .withColumn("ctx", lit(true)))
    val grid = sliced
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("s_win", sum($"v").over(w))
      .withColumn("ss_win", sum($"v" * $"v").over(w))
      .filter(!$"ctx")
    val diff = $"v".cast(big) * $"n_win".cast(big) - $"s_win".cast(big)
    val varN = $"n_win".cast(big) * $"ss_win".cast(big) -
      $"s_win".cast(big) * $"s_win".cast(big)
    grid
      .filter($"n_win" >= 10 && diff * diff > lit(9).cast(big) * varN)
      .select($"event_type", fmtS($"epoch_s").as("ts_s"), $"event_id",
        $"value", $"n_win",
        ($"s_win".cast("double") / ($"n_win" * 100)).as("win_mean"))
      .orderBy($"event_type", $"ts_s", $"event_id")
  }
  val q150Sql: String =
    """WITH g AS (
      |  SELECT event_type, ts, event_id, value,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS es
      |  FROM events),
      |w AS (
      |  SELECT event_type, ts, event_id, value, v, es,
      |    CAST(COUNT(*) OVER fr AS BIGINT) AS n_win,
      |    CAST(SUM(v) OVER fr AS BIGINT) AS s_win,
      |    CAST(SUM(v * v) OVER fr AS BIGINT) AS ss_win
      |  FROM g
      |  WINDOW fr AS (PARTITION BY event_type ORDER BY es
      |    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW))
      |SELECT event_type, strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  event_id, value, n_win,
      |  CAST(s_win AS DOUBLE) / (n_win * 100) AS win_mean
      |FROM w
      |WHERE n_win >= 10
      |  AND (CAST(v AS HUGEINT) * n_win - s_win) * (CAST(v AS HUGEINT) * n_win - s_win)
      |      > 9 * (CAST(n_win AS HUGEINT) * ss_win - CAST(s_win AS HUGEINT) * s_win)
      |ORDER BY event_type, ts_s, event_id""".stripMargin

  // --- q155: streaming session windows (the built-in session_window op) ---
  // The fifth streaming pillar's BUILT-IN form: q95 sessionizes with
  // custom flatMapGroupsWithState logic; this registers Spark's native
  // session_window aggregation (dynamic-gap merging session state,
  // watermark-evicted) under the oracle gate. Semantics are µs-exact
  // and inclusive: TOUCHING windows merge (an event at last_ts + exactly
  // 30min extends the session; strictly beyond opens a new one —
  // StreamingSpec pins this against a planted exact-gap pair), so the
  // oracle sessionizes on epoch-µs gaps — NOT q27's second-TRUNCATED
  // ones, which disagree on a 1800.000001s gap (truncates to 1800).
  // Complete mode over an AvailableNow drain yields the final sessions.
  def q155(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sessions = graft.streaming.Streams.sessionWindows(
      graft.streaming.Streams.eventsStream(s, d))
    // Complete-mode drain: the no-data batch would re-emit the identical
    // session table (the q34 rule) — skip it.
    graft.streaming.Streams.runToMemory(s, sessions, "q155_sink",
      noDataBatch = false)
      .select($"user_id", $"session_start", $"n_events")
      .orderBy($"user_id", $"session_start")
  }
  val q155Sql: String =
    """WITH e AS (
      |  SELECT user_id, ts, epoch_us(ts) AS us FROM events),
      |f AS (
      |  SELECT user_id, ts, us,
      |    CASE WHEN LAG(us) OVER w IS NULL
      |           OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM f)
      |SELECT user_id,
      |  strftime(date_trunc('second', MIN(ts)), '%Y-%m-%d %H:%M:%S')
      |    AS session_start,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Append-mode memory drain of an outer view-purchase join under
    * multipleWatermarkPolicy=max: with the default min policy the
    * cutoff-bounded outer side stalls the global watermark and its last
    * retained row's null row never emits (see Streams.viewPurchaseJoin).
    * Restored after the drain — the harnesses are strictly sequential
    * (the runToMemory conf convention). */
  private def outerDrain(s: SparkSession, joined: DataFrame,
      sink: String): DataFrame =
    GraftSession.withConfs(s,
        Seq("spark.sql.streaming.multipleWatermarkPolicy" -> "max")) {
      graft.streaming.Streams.runToMemory(s, joined, sink,
        org.apache.spark.sql.streaming.OutputMode.Append())
    }

  // --- q157: stream-stream LEFT OUTER interval join ------------------------
  // q58's inner join answers "which purchases followed a view"; the outer
  // form answers the ad-analytics question it cannot: "which views
  // CONVERTED, and which did not" — unmatched views emit null-extended
  // rows once the watermark proves no in-window purchase can still
  // arrive. See Streams.viewPurchaseJoin for the cutoff machinery that
  // makes a static-backlog drain complete. The oracle is the batch LEFT
  // JOIN under the same µs-exact window and cutoff — null-completion
  // semantics checked row-for-row at all SFs.
  def q157(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    outerDrain(s, graft.streaming.Streams.viewPurchaseJoin(s, d, "leftOuter"),
        "q157_sink")
      .select($"view_id", $"purchase_id",
        expr("(p_ns - v_ns) div 1000000000").as("delta_s"))
      .orderBy($"view_id", $"purchase_id")
  }
  val q157Sql: String =
    """WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
      |v AS (
      |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vus
      |  FROM events, mx
      |  WHERE event_type = 'view' AND epoch_us(ts) <= m - 14400000000),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
      |  FROM events WHERE event_type = 'purchase')
      |SELECT view_id, purchase_id,
      |  CAST((pus - vus) // 1000000 AS BIGINT) AS delta_s
      |FROM v LEFT JOIN p
      |  ON v.user_id = p.user_id AND pus >= vus AND pus <= vus + 3600000000
      |ORDER BY view_id, purchase_id""".stripMargin

  // --- q286: stream-stream RIGHT OUTER interval join -----------------------
  // q157 mirrored — the organic-conversion question the left-outer form
  // cannot ask: which purchases had NO view in the preceding hour. The
  // outer side flips to purchases (cutoff-bounded so every retained row
  // resolves; views stay unbounded to anchor the watermark — see
  // Streams.viewPurchaseJoin). Oracle: the batch RIGHT JOIN under the
  // same µs-exact window and cutoff.
  def q286(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    outerDrain(s, graft.streaming.Streams.viewPurchaseJoin(s, d, "rightOuter"),
        "q286_sink")
      .select($"view_id", $"purchase_id",
        expr("(p_ns - v_ns) div 1000000000").as("delta_s"))
      .orderBy($"purchase_id", $"view_id")
  }
  val q286Sql: String =
    """WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
      |v AS (
      |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vus
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
      |  FROM events, mx
      |  WHERE event_type = 'purchase' AND epoch_us(ts) <= m - 14400000000)
      |SELECT view_id, purchase_id,
      |  CAST((pus - vus) // 1000000 AS BIGINT) AS delta_s
      |FROM v RIGHT JOIN p
      |  ON v.user_id = p.user_id AND pus >= vus AND pus <= vus + 3600000000
      |ORDER BY purchase_id, view_id""".stripMargin

  // --- q158: time-weighted average (TWAP) over an irregular series --------
  // The reference's domain is a price feed; a plain AVG over-weights
  // bursts. TWAP treats the series as a step function — each event's
  // value holds until the NEXT event — and integrates it over hour
  // buckets: twap(H) = Σ v·overlap([ts,next), H) / Σ overlap. Durations
  // are exact ns integers and v is on the 1e-2 grid, so the weighted
  // sums are exact decimal(38,0)/HUGEINT integers; the final ratio is
  // grid-snapped once (q154 rule — Σ v·dur exceeds 2^53).
  //
  // Scale shape: the next-event lookup never runs as one global-ordered
  // window — lead() runs inside (type, day) slices, and each slice's
  // LAST event resolves its successor from the lead of the per-slice
  // first-event table (tiny: one row per non-empty slice, broadcast
  // back). Exact across multi-day gaps, parallelism ∝ types × days.
  // Segments spanning hours explode into per-hour overlaps via
  // sequence() — linear in covered hours.
  def q158(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    val HR = 3600L * 1000000000L
    val ev = Tables.events(s, d)
      .select($"event_type", $"ts", $"event_id",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"))
      .withColumn("slice", expr("(ts div 1000000000) div 86400"))
    val wLoc = Window.partitionBy($"event_type", $"slice")
      .orderBy($"ts", $"event_id")
    val sliceFirsts = ev.groupBy($"event_type", $"slice")
      .agg(min($"ts").as("first_ts"))
    val wSl = Window.partitionBy($"event_type").orderBy($"slice")
    val nextFirsts = sliceFirsts
      .withColumn("next_slice_ts", lead($"first_ts", 1).over(wSl))
      .select($"event_type", $"slice", $"next_slice_ts")
    val segs = ev
      .withColumn("next_local", lead($"ts", 1).over(wLoc))
      .join(broadcast(nextFirsts), Seq("event_type", "slice"))
      .withColumn("next_ts", coalesce($"next_local", $"next_slice_ts"))
      .filter($"next_ts".isNotNull && $"next_ts" > $"ts")
    val hours = segs
      .withColumn("h", explode(expr(
        s"sequence(ts div $HR, (next_ts - 1) div $HR)")))
      .withColumn("dur",
        least($"next_ts", ($"h" + 1) * HR) - greatest($"ts", $"h" * HR))
    hours.groupBy($"event_type", $"h")
      .agg(sum($"v".cast(big) * $"dur".cast(big)).as("num"),
        sum($"dur".cast(big)).as("den"),
        count(lit(1)).as("n_segments"))
      .select($"event_type",
        fmtS($"h" * 3600).as("hour_start"),
        (round($"num".cast("double") / $"den".cast("double") / 100 * 1e9)
          .cast("long").cast("double") / 1e9).as("twap"),
        expr("cast(den div 1000000000 as bigint)").as("covered_s"),
        $"n_segments")
      .orderBy($"event_type", $"hour_start")
  }
  val q158Sql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    epoch_us(ts) * 1000 AS tns,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |segs AS (
      |  SELECT event_type, v, tns,
      |    LEAD(tns) OVER (PARTITION BY event_type ORDER BY tns, event_id)
      |      AS next_ts
      |  FROM ev),
      |live AS (SELECT * FROM segs WHERE next_ts IS NOT NULL AND next_ts > tns),
      |hours AS (
      |  SELECT event_type, v,
      |    unnest(range(tns // 3600000000000, (next_ts - 1) // 3600000000000 + 1))
      |      AS h,
      |    tns, next_ts
      |  FROM live),
      |overl AS (
      |  SELECT event_type, h, v,
      |    least(next_ts, (h + 1) * 3600000000000)
      |      - greatest(tns, h * 3600000000000) AS dur
      |  FROM hours),
      |agg AS (
      |  SELECT event_type, h,
      |    SUM(CAST(v AS HUGEINT) * dur) AS num,
      |    SUM(CAST(dur AS HUGEINT)) AS den,
      |    CAST(COUNT(*) AS BIGINT) AS n_segments
      |  FROM overl GROUP BY 1, 2)
      |SELECT event_type,
      |  strftime(make_timestamp(h * 3600000000), '%Y-%m-%d %H:%M:%S')
      |    AS hour_start,
      |  CAST(CAST(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100 * 1e9)
      |    AS BIGINT) AS DOUBLE) / 1e9 AS twap,
      |  CAST(den // 1000000000 AS BIGINT) AS covered_s,
      |  n_segments
      |FROM agg
      |ORDER BY event_type, hour_start""".stripMargin

  // --- q193: linear-interpolation resampling to the hourly grid -------------
  // The other half of resampling (q97 forward-fills a step function; this
  // INTERPOLATES): each event_type's irregular series maps onto exact
  // hour boundaries with v(H) = v0 + (v1−v0)·(H−t0)/(t1−t0) between the
  // bracketing events. Segments come from q158's slice construction
  // (lead within (type, day) slices + broadcast slice-first boundary
  // resolution — no per-type single-task window), now carrying BOTH
  // endpoint values; each segment emits the grid hours in (t0, t1], so
  // every grid point appears exactly once and a point landing on an
  // event's timestamp evaluates to that event's value. Exactness: all
  // inputs are exact ints ≤ 2^53 (v on the 1e-2 grid, ns timestamps,
  // durations); the product (v1−v0)·(H−t0) crosses 2^53, so the chain is
  // evaluated in IEEE doubles in ONE fixed op order and snapped once to
  // the 1e-9 grid (the q154 rule). The ascending-sequence guard filters
  // segments containing no grid hour (Spark's sequence(a,b) with a>b
  // silently DESCENDS — the memory-listed trap).
  def q193(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def grid9(c: Column) = round(c * 1e9).cast("long").cast("double") / 1e9
    val HR = 3600L * 1000000000L
    val ev = Tables.events(s, d)
      .select($"event_type", $"ts", $"event_id",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"))
      .withColumn("slice", expr("(ts div 1000000000) div 86400"))
    val wLoc = Window.partitionBy($"event_type", $"slice")
      .orderBy($"ts", $"event_id")
    val sliceFirsts = ev.groupBy($"event_type", $"slice")
      .agg(min(struct($"ts", $"event_id", $"v")).as("f"))
    val wSl = Window.partitionBy($"event_type").orderBy($"slice")
    val nextFirsts = sliceFirsts
      .withColumn("nf", lead($"f", 1).over(wSl))
      .select($"event_type", $"slice",
        $"nf.ts".as("next_slice_ts"), $"nf.v".as("next_slice_v"))
    val segs = ev
      .withColumn("next_local_ts", lead($"ts", 1).over(wLoc))
      .withColumn("next_local_v", lead($"v", 1).over(wLoc))
      .join(broadcast(nextFirsts), Seq("event_type", "slice"))
      .withColumn("t1", coalesce($"next_local_ts", $"next_slice_ts"))
      .withColumn("v1", coalesce($"next_local_v", $"next_slice_v"))
      .filter($"t1".isNotNull && $"t1" > $"ts")
      .filter(expr(s"t1 div $HR >= ts div $HR + 1"))
    segs
      .withColumn("h", explode(expr(
        s"sequence(ts div $HR + 1, t1 div $HR)")))
      .select($"event_type",
        fmtS($"h" * 3600).as("hour_start"),
        grid9(($"v" + ($"v1" - $"v").cast("double") * ($"h" * HR - $"ts")
            / ($"t1" - $"ts")) / 100).as("value_interp"))
      .orderBy($"event_type", $"hour_start")
  }
  val q193Sql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    epoch_us(ts) * 1000 AS tns,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |segs AS (
      |  SELECT event_type, v, tns,
      |    LEAD(tns) OVER w AS t1, LEAD(v) OVER w AS v1
      |  FROM ev
      |  WINDOW w AS (PARTITION BY event_type ORDER BY tns, event_id)),
      |live AS (
      |  SELECT * FROM segs
      |  WHERE t1 IS NOT NULL AND t1 > tns
      |    AND t1 // 3600000000000 >= tns // 3600000000000 + 1),
      |pts AS (
      |  SELECT event_type, v, v1, tns, t1,
      |    unnest(range(tns // 3600000000000 + 1, t1 // 3600000000000 + 1)) AS h
      |  FROM live)
      |SELECT event_type,
      |  strftime(make_timestamp(h * 3600000000), '%Y-%m-%d %H:%M:%S')
      |    AS hour_start,
      |  CAST(CAST(round(
      |    (v + CAST(v1 - v AS DOUBLE) * (h * 3600000000000 - tns) / (t1 - tns))
      |      / 100 * 1e9)
      |    AS BIGINT) AS DOUBLE) / 1e9 AS value_interp
      |FROM pts
      |ORDER BY event_type, hour_start""".stripMargin

  // --- q159: OHLC candlestick bars + VWAP (the reference's dashboard) -----
  // The crypto-dashboard aggregate the reference's Metabase chart implies:
  // per (type, hour) open/high/low/close plus volume-weighted average
  // price, with volume = the props JSON's k field (exercising JSON
  // extraction inside an aggregation). ZERO windows: open/close are
  // struct-ordered min/max aggregates — min(struct(ts, event_id, v))
  // carries the first event's value out of a plain hash aggregate — so
  // the whole query is one key-bounded shuffle, the ideal 100 TB shape.
  // VWAP's Σ v·k is exact on the integer grid and grid-snapped once.
  def q159(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    val ev = Tables.events(s, d)
      .select($"event_type", $"ts", $"event_id", $"value",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"),
        get_json_object($"props", "$.k").cast("long").as("k"),
        expr("(ts div 1000000000) div 3600 * 3600").as("hs"))
    ev.groupBy($"event_type", $"hs")
      .agg(count(lit(1)).as("n_trades"),
        min(struct($"ts", $"event_id", $"value")).getField("value").as("open"),
        max($"value").as("high"), min($"value").as("low"),
        max(struct($"ts", $"event_id", $"value")).getField("value").as("close"),
        sum($"v".cast(big) * $"k".cast(big)).as("num"),
        sum($"k".cast(big)).as("den"))
      .select($"event_type", fmtS($"hs").as("hour_start"), $"n_trades",
        $"open", $"high", $"low", $"close",
        when($"den" === lit(0).cast(big), lit(null).cast("double"))
          .otherwise(round($"num".cast("double") / $"den".cast("double")
            / 100 * 1e9).cast("long").cast("double") / 1e9).as("vwap"))
      .orderBy($"event_type", $"hour_start")
  }
  val q159Sql: String =
    """WITH ev AS (
      |  SELECT event_type, ts, event_id, value,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |    date_trunc('hour', ts) AS hs,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |      ORDER BY ts, event_id) AS rn_a,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT event_type,
      |  strftime(hs, '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  CAST(COUNT(*) AS BIGINT) AS n_trades,
      |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      |  CASE WHEN SUM(CAST(k AS HUGEINT)) = 0 THEN NULL
      |       ELSE CAST(CAST(round(CAST(SUM(CAST(v AS HUGEINT) * k) AS DOUBLE)
      |              / CAST(SUM(CAST(k AS HUGEINT)) AS DOUBLE) / 100 * 1e9)
      |              AS BIGINT) AS DOUBLE) / 1e9
      |  END AS vwap
      |FROM ev
      |GROUP BY event_type, hs
      |ORDER BY event_type, hour_start""".stripMargin

  // --- q156: change-point detection (max cumulative deviation, CUSUM) -----
  // q150 flags POINT outliers; this finds the LEVEL SHIFT: per event
  // type, the time index maximizing |Σ_{j≤i}(v_j − μ)| — the classic
  // CUSUM location estimate for a single mean change. Everything is
  // exact-integer: with v on the 1e-2 grid, n·D_i = n·cum_i − i·Σv is a
  // decimal(38,0)/HUGEINT integer, so the argmax (tie-broken by earliest
  // index) is engine-deterministic, and |D_max|/n is grid-snapped once
  // (the q154 rule — the numerator exceeds 2^53).
  //
  // Scale shape: the running sum NEVER runs as one global-ordered window
  // (the q132/EquiDepth rule) — per-(type, day) slice-local cumsums plus
  // broadcast per-slice offsets reconstruct the exact global prefix sum,
  // and the argmax is two-phase: slice-local struct-max candidates, then
  // a max over the tiny candidate table. Parallelism ∝ types × days.
  def q156(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    val ev = withDerived(Tables.events(s, d))
      .withColumn("v", ($"value".cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("slice", expr("epoch_s div 86400"))
    val totals = ev.groupBy($"event_type")
      .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
    val wSl = Window.partitionBy($"event_type").orderBy($"slice")
      .rowsBetween(Window.unboundedPreceding, 0)
    val offsets = ev.groupBy($"event_type", $"slice")
      .agg(sum($"v").as("ssum"), count(lit(1)).as("sc"))
      .withColumn("voff", sum($"ssum").over(wSl) - $"ssum")
      .withColumn("coff", sum($"sc").over(wSl) - $"sc")
      .select($"event_type", $"slice", $"voff", $"coff")
    val wLoc = Window.partitionBy($"event_type", $"slice")
      .orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = ev
      .withColumn("lcum", sum($"v").over(wLoc))
      .withColumn("lrn", count(lit(1)).over(wLoc))
      .join(broadcast(offsets), Seq("event_type", "slice"))
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("i", $"coff" + $"lrn")
      .withColumn("dev", abs($"n".cast(big) * ($"voff" + $"lcum").cast(big) -
        $"i".cast(big) * $"sv".cast(big)))
    val cand = cum.groupBy($"event_type", $"slice")
      .agg(max(struct($"dev", (-$"i").as("ni"), $"epoch_s", $"event_id",
        $"n")).as("m"))
    cand.groupBy($"event_type").agg(max($"m").as("m"))
      .select($"event_type", $"m.n".as("n"),
        fmtS($"m.epoch_s").as("change_ts"), $"m.event_id".as("event_id"),
        (round($"m.dev".cast("double") / $"m.n" / 100 * 1e9).cast("long")
          .cast("double") / 1e9).as("max_cum_dev"))
      .orderBy($"event_type")
  }
  val q156Sql: String =
    """WITH g AS (
      |  SELECT event_type, ts, event_id,
      |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS es,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |t AS (
      |  SELECT event_type, SUM(CAST(v AS HUGEINT)) AS sv,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM g GROUP BY 1),
      |c AS (
      |  SELECT event_type, es, event_id,
      |    SUM(CAST(v AS HUGEINT)) OVER (PARTITION BY event_type
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id)
      |      AS i
      |  FROM g),
      |dv AS (
      |  SELECT c.event_type, es, event_id, n, i,
      |    abs(CAST(n AS HUGEINT) * cumv - CAST(i AS HUGEINT) * sv) AS dev
      |  FROM c JOIN t USING (event_type)),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY dev DESC, i) AS rk
      |  FROM dv)
      |SELECT event_type, n,
      |  strftime(make_timestamp(es * 1000000), '%Y-%m-%d %H:%M:%S') AS change_ts,
      |  event_id,
      |  CAST(CAST(round(CAST(dev AS DOUBLE) / n / 100 * 1e9) AS BIGINT)
      |    AS DOUBLE) / 1e9 AS max_cum_dev
      |FROM r WHERE rk = 1
      |ORDER BY event_type""".stripMargin

  // --- q129: incrementally-maintained hourly rollup (materialized view) ----
  // The streaming-materialized-view loop end-to-end: drain the events
  // backlog through Rollup.hourlyRollupSink (per-batch partial aggregates
  // exactly-once-merged into a persistent table), then read the TABLE.
  // The oracle recomputes the same aggregation from raw events — the
  // incremental table must equal the from-scratch answer exactly
  // (decimal-mergeable sums make merge order irrelevant).
  def q129(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // bench sweeps invoke this repeatedly; each run's table + checkpoint
    // is reclaimed by TempDirs' single exit hook (the returned DataFrame
    // reads the dir lazily, so an eager delete would pull the rug out
    // from under the caller). The drain itself re-runs per invocation —
    // the incremental-maintenance work IS what this query measures.
    val base = graft.TempDirs.fresh("graft_rollup")
    graft.streaming.Rollup.hourlyRollupSink(s, d,
      tablePath = s"$base/table", checkpointDir = s"$base/ckpt")
    graft.streaming.Rollup.readRollup(s, s"$base/table")
      .select($"event_type", $"hour_start", $"n_events",
        $"sum_value".cast("double").as("sum_value"))
      .orderBy($"event_type", $"hour_start")
  }
  val q129Sql: String =
    """SELECT event_type,
      |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
      |ORDER BY event_type, hour_start""".stripMargin


  // --- q172: stream-stream FULL OUTER interval join ------------------------
  // Completes the streaming join matrix q58 (inner) and q157 (left outer)
  // built: both unmatched views AND unmatched purchases null-complete.
  // The watermark geometry (Streams.viewPurchaseJoin) forces an
  // asymmetric shape — the purchase side stays unbounded to anchor the
  // global watermark near max, which leaves the last 2 h of purchases
  // unresolved in state — so the drained result is restricted to the
  // PROVABLY-RESOLVED region: every view row, plus null-purchase rows
  // with p_ts ≤ max−4h. The oracle is the batch FULL JOIN under the
  // identical cutoffs and restriction — null completion on BOTH sides
  // checked row-for-row.
  def q172(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one driver-side max(ts) shared by the operator's cutoff and the
    // resolution filter below (it used to run twice per invocation)
    val maxNs = Tables.events(s, d).agg(max($"ts")).head.getLong(0)
    val drained = outerDrain(s, graft.streaming.Streams.viewPurchaseJoin(s, d,
      "fullOuter", maxNsHint = Some(maxNs)), "q172_sink")
    val cutoffNs = maxNs - 4L * 3600 * 1000000000L
    drained
      .filter($"view_id".isNotNull || $"p_ns" <= cutoffNs)
      .select($"view_id", $"purchase_id",
        expr("(p_ns - v_ns) div 1000000000").as("delta_s"))
      .orderBy($"view_id", $"purchase_id")
  }
  val q172Sql: String =
    """WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
      |v AS (
      |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vus
      |  FROM events, mx
      |  WHERE event_type = 'view' AND epoch_us(ts) <= m - 14400000000),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
      |  FROM events WHERE event_type = 'purchase')
      |SELECT view_id, purchase_id,
      |  CAST((pus - vus) // 1000000 AS BIGINT) AS delta_s
      |FROM v FULL JOIN p
      |  ON v.user_id = p.user_id AND pus >= vus AND pus <= vus + 3600000000
      |WHERE view_id IS NOT NULL
      |   OR pus <= (SELECT m FROM mx) - 14400000000
      |ORDER BY view_id, purchase_id""".stripMargin

  // --- q177: stream-stream LEFT SEMI interval join --------------------------
  // "Which views converted" as a semi join: each view emits AT MOST once
  // iff some purchase lands in its hour — the dedup-free form of q58's
  // answer and the last streaming join semantics after q157/q172. Semi
  // emission is match-driven, so no resolution cutoff is needed (every
  // possible match is in the backlog; unmatched views evict silently) —
  // µs-exact window semantics as in q157 (physical parquet is
  // timestamp[us]; the ns residual is identically zero). The oracle is
  // the batch EXISTS under the same window. Rolled up per user to keep
  // the check shape-rich (count + id extremes).
  def q177(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val joined = graft.streaming.Streams.viewPurchaseJoin(s, d, "leftSemi")
    // Semi emission is match-driven (a view emits on its first match, in
    // that match's data batch); the no-data batch can only EVICT unmatched
    // views, never emit — skip it (the q58 inner-join rule; the
    // null-extending outer drains q157/q286/q172 keep theirs).
    graft.streaming.Streams.runToMemory(s, joined, "q177_sink",
      org.apache.spark.sql.streaming.OutputMode.Append(), noDataBatch = false)
      .groupBy($"v_user".as("user_id"))
      .agg(count(lit(1)).as("n_converted_views"),
        min($"view_id").as("first_view_id"),
        max($"view_id").as("last_view_id"))
      .orderBy($"user_id")
  }
  val q177Sql: String =
    """WITH v AS (
      |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vus
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, epoch_us(ts) AS pus
      |  FROM events WHERE event_type = 'purchase'),
      |conv AS (
      |  SELECT view_id, user_id FROM v
      |  WHERE EXISTS (
      |    SELECT 1 FROM p
      |    WHERE p.user_id = v.user_id
      |      AND pus >= vus AND pus <= vus + 3600000000))
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_converted_views,
      |  CAST(MIN(view_id) AS BIGINT) AS first_view_id,
      |  CAST(MAX(view_id) AS BIGINT) AS last_view_id
      |FROM conv GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // --- q173: delete propagation through the incremental rollup -------------
  // The retraction half of q129's materialized-view loop — the GDPR /
  // right-to-be-forgotten shape: after draining the full backlog into the
  // versioned rollup, a delete batch (every event of users with
  // user_id % 10 = 3) is applied as NEGATED partials through the same
  // exactly-once merge (Rollup.retractHourly), groups netting to zero
  // vanish, and the table must equal a from-scratch recompute over the
  // surviving events — which is exactly what the oracle computes. Exact
  // decimal sums make subtract-by-merge order-independent; the event
  // history is never rescanned (the merge touches rollup-sized data +
  // the delete batch only — the IVM asymmetry that matters at 100 TB).
  def q173(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = graft.TempDirs.fresh("graft_gdpr")
    graft.streaming.Rollup.hourlyRollupSink(s, d,
      tablePath = s"$base/table", checkpointDir = s"$base/ckpt")
    val deleted = Tables.events(s, d).filter($"user_id" % 10 === 3)
    graft.streaming.Rollup.retractHourly(s, deleted, s"$base/table")
    graft.streaming.Rollup.readRollup(s, s"$base/table")
      .select($"event_type", $"hour_start", $"n_events",
        $"sum_value".cast("double").as("sum_value"))
      .orderBy($"event_type", $"hour_start")
  }
  val q173Sql: String =
    """SELECT event_type,
      |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE user_id % 10 <> 3
      |GROUP BY event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
      |ORDER BY event_type, hour_start""".stripMargin

  // --- q190: streaming exact distinct users per hour ------------------------
  // Streaming COUNT(DISTINCT) — the aggregate Structured Streaming lacks
  // natively — by composition (Streams.hourlyDistinctUsers): a
  // watermark-bounded dedup on (user, hour) feeds the windowed count, so
  // the count IS the exact distinct-user number and state stays ∝
  // distinct pairs in the horizon. The oracle is the batch
  // COUNT(DISTINCT user_id) per hour; any dedup leak or loss would shift
  // a count and miss the hash.
  def q190(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val du = graft.streaming.Streams.hourlyDistinctUsers(
      graft.streaming.Streams.eventsStream(s, d))
    // Complete-mode drain (dedup passes first-seens through at arrival;
    // the count re-emits fully each batch): the no-data batch would only
    // re-emit the identical table — skip it (the q34 rule).
    graft.streaming.Streams.runToMemory(s, du, "q190_sink",
      noDataBatch = false)
      .orderBy($"hour_start")
  }
  val q190Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
      |FROM events
      |GROUP BY 1
      |ORDER BY hour_start""".stripMargin

  // --- q188: autocorrelation function of the hourly series ------------------
  // The time-series diagnostic behind seasonality detection (q163 assumes
  // a 24 h cycle; this MEASURES it): Pearson autocorrelation of the
  // gap-filled global hourly event-count series at lags 1–12 h + 24 h.
  // Exactness is the q154 sums route per lag: counts are exact ints on a
  // zero-filled spine, every moment (Σx, Σy, Σxy, Σx², Σy²) is an exact
  // decimal(38,0)/HUGEINT integer over the lag-aligned pairs, and
  // r = (nΣxy−ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) is evaluated with the
  // sqrt SPLIT (each radicand ≤ ~1e12 converts exactly to double; their
  // PRODUCT would cross 2^53) in one fixed IEEE chain, grid-snapped once.
  // Lag alignment is a spine self-join on t+k — embarrassingly parallel,
  // no global-ordered window; the series is hours-sized (time-bounded,
  // never event-sized), so every stage after the hourly rollup is tiny.
  def q188(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    def grid9(c: Column) = round(c * 1e9).cast("long").cast("double") / 1e9
    val hourly = Tables.events(s, d)
      .select(expr("(ts div 1000000000) div 3600").as("h"))
      .groupBy($"h").agg(count(lit(1)).as("c"))
    val bounds = hourly.agg(min($"h").as("h0"), max($"h").as("h1"))
    val spine = bounds.select(explode(sequence($"h0", $"h1")).as("h"))
      .join(hourly, Seq("h"), "left")
      .select($"h", coalesce($"c", lit(0L)).as("y"))
    val lags = s.range(1, 13).select($"id".as("lag"))
      .unionByName(s.range(24, 25).select($"id".as("lag")))
    val pairs = spine.as("a")
      .crossJoin(broadcast(lags))
      .join(spine.as("b"), $"a.h" + $"lag" === $"b.h")
      .select($"lag", $"a.y".as("x"), $"b.y".as("yl"))
    val sums = pairs.groupBy($"lag").agg(
      count(lit(1)).as("n"),
      sum($"x".cast(big)).as("sx"), sum($"yl".cast(big)).as("sy"),
      sum($"x".cast(big) * $"yl".cast(big)).as("sxy"),
      sum($"x".cast(big) * $"x".cast(big)).as("sxx"),
      sum($"yl".cast(big) * $"yl".cast(big)).as("syy"))
    val vx = $"n".cast(big) * $"sxx" - $"sx" * $"sx"
    val vy = $"n".cast(big) * $"syy" - $"sy" * $"sy"
    val cov = $"n".cast(big) * $"sxy" - $"sx" * $"sy"
    sums.select($"lag", $"n".as("n_pairs"),
      when(vx === lit(0).cast(big) || vy === lit(0).cast(big),
          lit(null).cast("double"))
        .otherwise(grid9(cov.cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double")))))
        .as("acf"))
      .orderBy($"lag")
  }
  val q188Sql: String =
    """WITH hr AS (
      |  SELECT CAST(epoch_us(ts) // 1000000 // 3600 AS BIGINT) AS h,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hr),
      |spine AS (
      |  SELECT t.h, COALESCE(hr.c, 0) AS y
      |  FROM (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) t
      |  LEFT JOIN hr ON t.h = hr.h),
      |lags AS (SELECT unnest(range(1, 13)) AS lag UNION ALL SELECT 24),
      |pairs AS (
      |  SELECT lag, a.y AS x, b.y AS yl
      |  FROM spine a CROSS JOIN lags JOIN spine b ON a.h + lag = b.h),
      |s AS (
      |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(yl AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * yl) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(yl AS HUGEINT) * yl) AS syy
      |  FROM pairs GROUP BY 1)
      |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
      |  CASE WHEN n_pairs * sxx - sx * sx = 0 OR n_pairs * syy - sy * sy = 0
      |       THEN NULL
      |       ELSE CAST(CAST(round(
      |         CAST(n_pairs * sxy - sx * sy AS DOUBLE)
      |           / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
      |              * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
      |         * 1e9) AS BIGINT) AS DOUBLE) / 1e9
      |  END AS acf
      |FROM s
      |ORDER BY lag""".stripMargin

  // --- q163: seasonal-naive forecast backtest (hour-of-day baseline) ------
  // The simplest defensible time-series forecast — predict each hour of
  // the LAST day from the same hour-of-day's mean over all prior days —
  // evaluated per (type, hour-of-day) against the holdout day. Exactness:
  // train and holdout means are exact-integer ratios grid-snapped once
  // (the q154 rule), and the error is ONE |a−b| IEEE op on two snapped
  // doubles — deterministic cross-engine. No per-hod error is summed
  // across groups (cross-group double summation is merge-order-dependent;
  // the per-row table IS the backtest report). Shape: one (type, hod)
  // agg per split + a broadcast one-row max-day lookup — two key-bounded
  // shuffles over events, join on a 120-row key space.
  def q163(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def grid9(c: Column) = round(c * 1e9).cast("long").cast("double") / 1e9
    val ev = Tables.events(s, d)
      .select($"event_type",
        expr("(ts div 1000000000) div 86400").as("day"),
        expr("((ts div 1000000000) div 3600) % 24").as("hod"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"))
    val maxDay = ev.agg(max($"day").as("max_day"))
    val split = ev.crossJoin(broadcast(maxDay))
    val train = split.filter($"day" < $"max_day")
      .groupBy($"event_type", $"hod")
      .agg(count(lit(1)).as("n_train"), sum($"v").as("sv"))
      .select($"event_type", $"hod", $"n_train",
        grid9($"sv".cast("double") / $"n_train" / 100).as("pred"))
    val hold = split.filter($"day" === $"max_day")
      .groupBy($"event_type", $"hod")
      .agg(count(lit(1)).as("n_holdout"), sum($"v").as("svh"))
      .select($"event_type", $"hod", $"n_holdout",
        grid9($"svh".cast("double") / $"n_holdout" / 100).as("actual"))
    train.join(hold, Seq("event_type", "hod"))
      .select($"event_type", $"hod", $"n_train", $"n_holdout",
        $"pred", $"actual", abs($"pred" - $"actual").as("abs_err"))
      .orderBy($"event_type", $"hod")
  }
  val q163Sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day,
      |    CAST((epoch_us(ts) // 1000000 // 3600) % 24 AS BIGINT) AS hod,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |mx AS (SELECT MAX(day) AS max_day FROM ev),
      |train AS (
      |  SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n_train,
      |    CAST(CAST(round(CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE) / COUNT(*)
      |      / 100 * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS pred
      |  FROM ev, mx WHERE day < max_day GROUP BY 1, 2),
      |hold AS (
      |  SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n_holdout,
      |    CAST(CAST(round(CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE) / COUNT(*)
      |      / 100 * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS actual
      |  FROM ev, mx WHERE day = max_day GROUP BY 1, 2)
      |SELECT event_type, hod, n_train, n_holdout, pred, actual,
      |  abs(pred - actual) AS abs_err
      |FROM train JOIN hold USING (event_type, hod)
      |ORDER BY event_type, hod""".stripMargin


  // --- q164: stateful streaming dedup (dropDuplicatesWithinWatermark) -----
  // The last spec-only streaming pillar brought under the oracle gate:
  // the event backlog is fed through the stream TWICE (two file copies in
  // one AvailableNow batch), deduplicated on event_id within the
  // watermark horizon, and rolled up per type. The oracle aggregates the
  // SINGLE batch table — if the dedup state failed to drop the second
  // copy every count and sum would double and the hash would miss.
  // Cross-batch state EVICTION semantics (the horizon bound) are pinned
  // separately in StreamingSpec; state here is ∝ the horizon, not the
  // stream.
  def q164(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the doubled backlog is a deterministic function of the dataset dir:
    // stage the two copies ONCE per dir (TempDirs.scoped memoizes; its
    // single exit hook reclaims them) — repeated bench invocations re-run
    // the stateful drain (the measured work) but not the disk copies
    val canon = java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString
    val base = graft.TempDirs.scoped(s"sdedup|$canon", "graft_sdedup") { b =>
      val src = java.nio.file.Paths.get(s"$d/events.parquet")
      java.nio.file.Files.copy(src, b.resolve("events_a.parquet"))
      java.nio.file.Files.copy(src, b.resolve("events_b.parquet"))
      ()
    }
    val stream = graft.streaming.Streams.eventsStream(s, base.toString,
      glob = "events_*.parquet")
    val deduped = graft.streaming.Streams.dedupWithinWatermark(
      stream, Seq("event_id"))
    // dropDuplicatesWithinWatermark emits each first-seen key AT ARRIVAL
    // (append of the kept row in its own data batch); the no-data batch
    // only evicts expired keys — skip it (the q58 rule).
    graft.streaming.Streams.runToMemory(s, deduped, "q164_sink",
      org.apache.spark.sql.streaming.OutputMode.Append(), noDataBatch = false)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }
  val q164Sql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin


  // --- q165: session path mining (the Sankey-flow primitive) --------------
  // Which journeys do sessions actually take? Sessionize (q27's 30-min
  // lag+cumsum rule), take each session's first five event types in
  // order, and count the path strings — the aggregation behind flow/
  // funnel-discovery dashboards. Order inside a path is made engine-proof
  // the collect_list way: array_sort over (ts, event_id, type) structs
  // (collect_list alone has no cross-partition order guarantee), vs the
  // oracle's string_agg(... ORDER BY ts, event_id). One user-keyed window
  // shuffle + one path-keyed agg ending in TakeOrderedAndProject.
  def q165(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sess = withDerived(Tables.events(s, d))
      .withColumn("new_session",
        when(($"epoch_s" - lag($"epoch_s", 1).over(wOrd)) > 1800 ||
          lag($"epoch_s", 1).over(wOrd).isNull, 1).otherwise(0))
      .withColumn("session_id",
        sum($"new_session").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id", $"session_id").orderBy($"ts", $"event_id")))
      .filter($"rn" <= 5)
    sess.groupBy($"user_id", $"session_id")
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct($"ts", $"event_id", $"event_type"))),
        x => x.getField("event_type"))).as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(20)
  }
  val q165Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN CAST(epoch_us(ts) // 1000000 AS BIGINT)
      |           - LAG(CAST(epoch_us(ts) // 1000000 AS BIGINT)) OVER w > 1800
      |           OR LAG(ts) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |limited AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
      |      ORDER BY ts, event_id) AS rn
      |    FROM sessions) t WHERE rn <= 5),
      |paths AS (
      |  SELECT user_id, session_id,
      |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM limited GROUP BY user_id, session_id)
      |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      |FROM paths GROUP BY path
      |ORDER BY n_sessions DESC, path
      |LIMIT 20""".stripMargin

  // --- q202: day-over-day distribution drift (JSD monitor) ------------------
  // The data-quality monitor q106 runs across SOURCES, run across TIME:
  // Jensen-Shannon divergence between each day's event-type distribution
  // and the previous day's — the standing drift alarm a training-data
  // ingest pipeline keeps on every upstream feed (a feed whose category
  // mix jumps gets quarantined before it poisons a mix ratio). Exactness
  // is the q106 convention verbatim: per-category contributions
  // 0.5·(p·ln(p/m) + q·ln(q/m)) are computed in one fixed IEEE chain
  // from exact integer counts, snapped to the 1e-9 grid, and summed as
  // exact longs; categories absent from one side contribute only the
  // other side's term (null-guarded, not silently dropped). Shape: the
  // per-(day, type) count table is days×types-sized — tiny — and the
  // day-over-day alignment is a shifted full outer join on it, so
  // everything after the one corpus-sized count scan is free.
  def q202(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byDay = Tables.events(s, d)
      .select(expr("(ts div 1000000000) div 86400").as("day"), $"event_type")
      .groupBy($"day", $"event_type").agg(count(lit(1)).as("c"))
    val tot = byDay.groupBy($"day").agg(sum($"c").as("n"))
    val cur = byDay.select($"day", $"event_type", $"c".as("c_c"))
    val prev = byDay.select(($"day" + 1).as("day"), $"event_type", $"c".as("c_p"))
    val aligned = cur.join(prev, Seq("day", "event_type"), "full_outer")
      .join(broadcast(tot.select($"day", $"n".as("n_c"))), "day")
      .join(broadcast(tot.select(($"day" + 1).as("day"), $"n".as("n_p"))), "day")
    val p = coalesce($"c_c", lit(0L)) * lit(1.0) / $"n_c"
    val q = coalesce($"c_p", lit(0L)) * lit(1.0) / $"n_p"
    val m = (p + q) / lit(2.0)
    val contrib = lit(0.5) *
      (when($"c_c".isNotNull, p * log(p / m)).otherwise(lit(0.0)) +
        when($"c_p".isNotNull, q * log(q / m)).otherwise(lit(0.0)))
    aligned
      .withColumn("e9", round(contrib * lit(1e9)).cast("long"))
      .groupBy($"day")
      .agg(min($"n_c").as("n_events"), sum($"e9").as("jsd_e9"))
      .select($"day", $"n_events",
        ($"jsd_e9".cast("double") / lit(1e9)).as("jsd_vs_prev"))
      .orderBy($"day")
  }
  val q202Sql: String =
    """WITH byday AS (
      |  SELECT epoch_us(ts) // 1000000 // 86400 AS day, event_type,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT day, CAST(SUM(c) AS BIGINT) AS n FROM byday GROUP BY day),
      |aligned AS (
      |  SELECT COALESCE(cur.day, prev.day) AS day,
      |    cur.c AS c_c, prev.c AS c_p
      |  FROM byday cur
      |  FULL JOIN (SELECT day + 1 AS day, event_type, c FROM byday) prev
      |    ON cur.day = prev.day AND cur.event_type = prev.event_type),
      |terms AS (
      |  SELECT a.day,
      |    tc.n AS n_c,
      |    CAST(ROUND(0.5 * (
      |      CASE WHEN a.c_c IS NOT NULL THEN
      |        (COALESCE(a.c_c, 0) * 1.0 / tc.n)
      |          * ln((COALESCE(a.c_c, 0) * 1.0 / tc.n)
      |            / (((COALESCE(a.c_c, 0) * 1.0 / tc.n)
      |              + (COALESCE(a.c_p, 0) * 1.0 / tp.n)) / 2.0)) ELSE 0.0 END
      |      + CASE WHEN a.c_p IS NOT NULL THEN
      |        (COALESCE(a.c_p, 0) * 1.0 / tp.n)
      |          * ln((COALESCE(a.c_p, 0) * 1.0 / tp.n)
      |            / (((COALESCE(a.c_c, 0) * 1.0 / tc.n)
      |              + (COALESCE(a.c_p, 0) * 1.0 / tp.n)) / 2.0)) ELSE 0.0 END
      |    ) * 1e9) AS BIGINT) AS e9
      |  FROM aligned a
      |  JOIN tot tc ON tc.day = a.day
      |  JOIN tot tp ON tp.day = a.day - 1)
      |SELECT day, MIN(n_c) AS n_events,
      |  CAST(SUM(e9) AS DOUBLE) / 1e9 AS jsd_vs_prev
      |FROM terms
      |GROUP BY day
      |ORDER BY day""".stripMargin

  // --- q204: re-aggregable HLL sketch rollup (hourly → daily merge) --------
  // The 100 TB rollup architecture for COUNT(DISTINCT): store one HLL
  // sketch per fine bucket (hour) and answer any coarser question (day)
  // by MERGING sketches — never rescanning events. Spark's Datasketches
  // functions split exactly along that line: hll_sketch_agg is the
  // map-side partial, hll_union_agg the re-aggregation, and both are
  // order-independent (register maxima), so the merged estimate is
  // deterministic for a fixed input set. Cross-engine the estimate
  // cannot be compared (DuckDB's approx_count_distinct is a different
  // sketch), so the q63/q87 convention applies: hash the EXACT daily
  // distinct count plus a theorem-backed within-bound flag for the
  // merged estimate (lgConfigK=12 → relative standard error
  // 1.04/√2¹² ≈ 1.6 %; the gate allows 6σ ≈ 10 % plus a small absolute
  // floor for near-empty days). The exact count exists at test scale to
  // BE the oracle; at 100 TB only the sketch path runs.
  def q204(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      expr("(ts div 1000000000) div 86400").as("day"),
      expr("(ts div 1000000000) div 3600").as("hour"), $"user_id")
    val hourly = ev.groupBy($"day", $"hour")
      .agg(hll_sketch_agg($"user_id").as("sk"))
    val daily = hourly.groupBy($"day")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx_users"))
    val exact = ev.groupBy($"day")
      .agg(countDistinct($"user_id").as("exact_users"))
    exact.join(daily, Seq("day"))
      .select($"day", $"exact_users",
        (abs($"approx_users" - $"exact_users") <=
          $"exact_users" * lit(0.10) + lit(16)).as("merged_within_bound"))
      .orderBy($"day")
  }
  val q204Sql: String =
    """SELECT epoch_us(ts) // 1000000 // 86400 AS day,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  TRUE AS merged_within_bound
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  // --- q209: streaming hourly top-k event types ------------------------------
  // The "trending now" board: incremental windowed counts maintained by
  // the stream (q34's hourlyTrend — the state-bounded part), topped with
  // a presentation-time rank over the drained per-hour table. Ranking
  // inside a streaming plan is unsupported (and unnecessary — the window
  // counts are the only event-sized work; the rank input is hours×types
  // rows), so the split IS the architecture: stream maintains, batch
  // ranks. Deterministic (n desc, event_type) tie-break; exact counts.
  def q209(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val trend = graft.streaming.Streams.hourlyTrend(
      graft.streaming.Streams.eventsStream(s, d))
    // Complete-mode drain — skip the no-op trailing batch (the q34 rule)
    val drained = graft.streaming.Streams.runToMemory(s, trend, "q209_sink",
      noDataBatch = false)
    drained
      .withColumn("rank", row_number().over(Window.partitionBy($"hour_start")
        .orderBy($"n_events".desc, $"event_type")))
      .filter($"rank" <= 3)
      .select($"hour_start", $"rank", $"event_type", $"n_events")
      .orderBy($"hour_start", $"rank")
  }
  val q209Sql: String =
    """WITH h AS (
      |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |    event_type, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2)
      |SELECT hour_start, rank, event_type, n_events FROM (
      |  SELECT hour_start, event_type, n_events,
      |    ROW_NUMBER() OVER (PARTITION BY hour_start
      |      ORDER BY n_events DESC, event_type) AS rank
      |  FROM h)
      |WHERE rank <= 3
      |ORDER BY hour_start, rank""".stripMargin

  // --- q210: drift monitor ON the maintained view ---------------------------
  // The IVM closure: q202's day-over-day JSD computed from the
  // incrementally-maintained hourly rollup (streaming/Rollup — q129's
  // versioned merge table) instead of the raw event history, staged once
  // per dataset content. The oracle is q202Sql VERBATIM (raw-history
  // restatement): hash equality proves analytics on the maintained view
  // equal analytics on the history it summarizes — which is the entire
  // justification for maintaining views at 100 TB, where the rollup is
  // hours×types-sized and the history is not. Day counts aggregate from
  // the view's hour grain (exact integer sums); JSD terms follow q202's
  // 1e-9-snap convention unchanged.
  def q210(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val staged = graft.Stage.derived("hourly_rollup_view", d) { p =>
      graft.streaming.Rollup.hourlyRollupSink(s, d,
        tablePath = s"$p/table", checkpointDir = s"$p/ckpt")
    }
    val view = graft.streaming.Rollup.readRollup(s, s"$staged/table")
    val byDay = view
      .select(expr("unix_timestamp(hour_start, 'yyyy-MM-dd HH:mm:ss') div 86400")
          .as("day"),
        $"event_type", $"n_events")
      .groupBy($"day", $"event_type").agg(sum($"n_events").as("c"))
    val tot = byDay.groupBy($"day").agg(sum($"c").as("n"))
    val cur = byDay.select($"day", $"event_type", $"c".as("c_c"))
    val prev = byDay.select(($"day" + 1).as("day"), $"event_type", $"c".as("c_p"))
    val aligned = cur.join(prev, Seq("day", "event_type"), "full_outer")
      .join(broadcast(tot.select($"day", $"n".as("n_c"))), "day")
      .join(broadcast(tot.select(($"day" + 1).as("day"), $"n".as("n_p"))), "day")
    val p = coalesce($"c_c", lit(0L)) * lit(1.0) / $"n_c"
    val q = coalesce($"c_p", lit(0L)) * lit(1.0) / $"n_p"
    val m = (p + q) / lit(2.0)
    val contrib = lit(0.5) *
      (when($"c_c".isNotNull, p * log(p / m)).otherwise(lit(0.0)) +
        when($"c_p".isNotNull, q * log(q / m)).otherwise(lit(0.0)))
    aligned
      .withColumn("e9", round(contrib * lit(1e9)).cast("long"))
      .groupBy($"day")
      .agg(min($"n_c").as("n_events"), sum($"e9").as("jsd_e9"))
      .select($"day", $"n_events",
        ($"jsd_e9".cast("double") / lit(1e9)).as("jsd_vs_prev"))
      .orderBy($"day")
  }
  lazy val q210Sql: String = q202Sql

  // --- q211: time-decayed engagement score (exponential decay rollup) -------
  // The recency-weighted popularity primitive behind trending ranks and
  // churn features: each event contributes exp(−age/τ) with τ = 7 days,
  // summed per user, top-20. Exactness: ages are exact µs integers
  // (< 2^53), the per-event exponential is snapped to 1e-6 BEFORE
  // aggregation (exp may differ 1 ulp between libm and java.lang.Math —
  // the q39/q106 rule), sums are exact longs, and the top-20 cut orders
  // by the integer score — one scan, one user-keyed aggregation,
  // TakeOrderedAndProject.
  def q211(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val mx = Tables.events(s, d).agg(max($"ts").as("tmax"))
    Tables.events(s, d).crossJoin(broadcast(mx))
      .withColumn("e6",
        round(exp(-(expr("(tmax - ts) div 1000").cast("double") / lit(6.048e11)))
          * lit(1e6)).cast("long"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"e6").as("score6"))
      .select($"user_id", $"n_events",
        ($"score6".cast("double") / 1e6).as("decayed_score"), $"score6")
      .orderBy($"score6".desc, $"user_id")
      .limit(20)
      .drop("score6")
  }
  val q211Sql: String =
    """WITH mx AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events),
      |e AS (
      |  SELECT user_id,
      |    CAST(round(exp(-(CAST(tmax - epoch_us(ts) AS DOUBLE) / 6.048e11)) * 1e6)
      |      AS BIGINT) AS e6
      |  FROM events, mx)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(e6) AS DOUBLE) / 1e6 AS decayed_score
      |FROM e
      |GROUP BY user_id
      |ORDER BY SUM(e6) DESC, user_id
      |LIMIT 20""".stripMargin

  // --- q212: conversion-latency percentiles (view → first purchase) ---------
  // The SLA view of q58's interval join: per view, the latency to its
  // FIRST purchase within the hour window; percentiles of those
  // latencies by day-of-week of the view. Latencies are exact integer
  // seconds (ns arithmetic, div-truncated); the p50/p90/p99 follow the
  // q66 convention (Spark percentile() and DuckDB quantile_cont share
  // the (1−α)·a + α·β interpolation; round(6) absorbs the final-op
  // wobble). Day-of-week comes from pure epoch-day arithmetic
  // ((day + 4) mod 7, Monday=0) so no calendar function has to agree
  // across engines. One user-keyed join bounded by the hour window + a
  // view-keyed min + a 7-group aggregate.
  def q212(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val views = ev.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id".as("u"), $"ts".as("v_ns"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("p_ns"))
    val first = views.join(purchases,
        $"u" === $"pu" && $"p_ns" >= $"v_ns" &&
          $"p_ns" <= $"v_ns" + lit(3600L * 1000000000L))
      .groupBy($"view_id", $"v_ns")
      .agg(min($"p_ns").as("first_p_ns"))
    first
      .withColumn("latency_s", expr("(first_p_ns - v_ns) div 1000000000"))
      .withColumn("dow", expr("((v_ns div 1000000000 div 86400) + 3) % 7"))
      .groupBy($"dow")
      .agg(count(lit(1)).as("n_conversions"),
        round(expr("percentile(latency_s, 0.5)"), 6).as("p50_s"),
        round(expr("percentile(latency_s, 0.9)"), 6).as("p90_s"),
        round(expr("percentile(latency_s, 0.99)"), 6).as("p99_s"))
      .orderBy($"dow")
  }
  val q212Sql: String =
    """WITH v AS (
      |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vus
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, epoch_us(ts) AS pus
      |  FROM events WHERE event_type = 'purchase'),
      |first AS (
      |  SELECT v.view_id, v.vus, MIN(p.pus) AS fpus
      |  FROM v JOIN p ON v.user_id = p.user_id
      |    AND p.pus >= v.vus AND p.pus <= v.vus + 3600000000
      |  GROUP BY v.view_id, v.vus)
      |SELECT ((vus // 1000000 // 86400) + 3) % 7 AS dow,
      |  CAST(COUNT(*) AS BIGINT) AS n_conversions,
      |  ROUND(quantile_cont((fpus - vus) // 1000000, 0.5), 6) AS p50_s,
      |  ROUND(quantile_cont((fpus - vus) // 1000000, 0.9), 6) AS p90_s,
      |  ROUND(quantile_cont((fpus - vus) // 1000000, 0.99), 6) AS p99_s
      |FROM first
      |GROUP BY 1
      |ORDER BY dow""".stripMargin

  // --- q213: point-in-time dimension join (leakage-free feature lookup) -----
  // The feature-store correctness primitive: each purchase (the LABEL
  // event) joins the SCD2 state interval that was valid STRICTLY BEFORE
  // it — vf < ts ≤ vt — so a purchase that itself opened a new interval
  // attributes to the user's PRIOR state, never to information carried
  // by the label event. Training pipelines that join features at
  // as-of-label-time instead of strictly-before leak the label; this
  // query is that rule as an operator, rolled up as purchase counts by
  // prior engagement state (first-ever events fall out as a cold-start
  // bucket via the left join). Intervals partition each user's timeline,
  // so the range predicate matches at most one row — the join is
  // user-keyed with a per-user interval list, the q29/q77 banded shape.
  def q213(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val intervals = ev
      .withColumn("prev_type", lag($"event_type", 1).over(wOrd))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
      .withColumn("vt", lead($"ts", 1).over(wOrd))
      .select($"user_id".as("du"), $"event_type".as("state"), $"ts".as("vf"), $"vt")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts")
    purchases.join(intervals,
        $"user_id" === $"du" && $"vf" < $"ts" &&
          ($"vt".isNull || $"ts" <= $"vt"), "left")
      .groupBy(coalesce($"state", lit("(cold start)")).as("prior_state"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"prior_state")
  }
  val q213Sql: String =
    """WITH ch AS (
      |  SELECT user_id, event_type AS state, ts, event_id FROM (
      |    SELECT user_id, event_type, ts, event_id,
      |      LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |    FROM events)
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |iv AS (
      |  SELECT user_id AS du, state, ts AS vf,
      |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
      |  FROM ch),
      |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT COALESCE(iv.state, '(cold start)') AS prior_state,
      |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |  CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users
      |FROM p LEFT JOIN iv ON iv.du = p.user_id
      |  AND iv.vf < p.ts AND (iv.vt IS NULL OR p.ts <= iv.vt)
      |GROUP BY 1
      |ORDER BY prior_state""".stripMargin

  // --- q218: dynamic partition pruning over the day-partitioned lake ------
  // The 100 TB event lake is day-partitioned (Sources.writePartitioned —
  // the layout every full-history fact table ships with). Static pruning
  // (a literal day filter) is proven in SourcesSpec; this query exercises
  // the RUNTIME form: the hot-day dimension is only known after an
  // aggregation (days whose purchase revenue beats the daily mean), so no
  // literal filter exists at plan time. Catalyst's dynamic partition
  // pruning inserts a pruning subquery on the fact scan's partition column
  // that reuses the broadcast dim — at plan-execution time only the hot
  // days' directories are listed and read (SourcesSpec asserts the
  // dynamicpruning PartitionFilter AND that the pruned scan lists fewer
  // partitions than the layout holds). The join key is typed to the
  // partition column's inferred int type: a cast around a partition column
  // would defeat the pruning rule.
  //
  // The hot-day rule stays in exact arithmetic: per-day revenue as exact
  // integer CENTS (a decimal product would overflow DuckDB's 38-digit
  // width when multiplied by n_days and silently fall back to double),
  // and `rev_c * n_days > total_c` under the q154 decimal(38,0)/HUGEINT
  // product rule — no double mean whose rounding could flip a boundary
  // day across engines.
  /** The dataset's staged day-partitioned events layout (Stage.derived:
    * built once per dataset content, reused across sessions). */
  private[graft] def eventsByDayPath(s: SparkSession, d: String): String =
    eventsByDay(s, d)

  private def eventsByDay(s: SparkSession, d: String): String = {
    val p = graft.Stage.derived("events_by_day", d) { p =>
      graft.sources.Sources.writePartitioned(
        Tables.events(s, d)
          .withColumn("day", expr("(ts div 1000000000) div 86400")),
        s"$p/events_day.parquet", "day")
    }
    s"$p/events_day.parquet"
  }

  def q218(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fact = s.read.parquet(eventsByDay(s, d))
    val daily = Tables.events(s, d)
      .filter($"event_type" === "purchase")
      .groupBy(expr("(ts div 1000000000) div 86400").cast("int").as("day"))
      .agg((sum($"value".cast("decimal(18,2)")) * 100).cast("long").as("rev_c"))
    val tot = daily.agg(sum($"rev_c").as("tot_c"), count(lit(1)).as("nd"))
    val hot = daily.crossJoin(broadcast(tot)) // one-row bound
      .filter($"rev_c".cast("decimal(38,0)") * $"nd" > $"tot_c")
      .select($"day")
    fact.join(broadcast(hot), "day")
      .groupBy($"event_type")
      .agg(countDistinct($"day").as("n_days"),
        count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }
  val q218Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 1000000 // 86400 AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT CAST(SUM(rev_c) AS HUGEINT) AS tot_c, COUNT(*) AS nd
      |  FROM daily),
      |hot AS (SELECT day FROM daily, tot
      |  WHERE CAST(rev_c AS HUGEINT) * nd > tot_c)
      |SELECT e.event_type,
      |  CAST(COUNT(DISTINCT epoch_us(e.ts) // 1000000 // 86400) AS BIGINT) AS n_days,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
      |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN hot ON epoch_us(e.ts) // 1000000 // 86400 = hot.day
      |GROUP BY 1
      |ORDER BY e.event_type""".stripMargin

  // --- q223: streaming CDC apply (last-writer-wins profile table) ----------
  // The changelog half of the lakehouse maintenance story: q129/q173
  // maintain ADDITIVE views (sums merge), but a keyed UPDATE stream — a
  // profile table fed by a CDC feed — needs last-writer-wins per key.
  // The events backlog drains as a changelog of per-user profile updates;
  // each micro-batch pre-reduces to one winner row per user (max over the
  // (ts, event_id) recency struct — the same op the merge applies, so
  // batch pre-reduction is free correctness-wise) plus an additive update
  // counter, then Rollup.mergeLatestInto folds it into the versioned
  // profile table. Because per-key max is order-insensitive, an
  // out-of-order batch cannot regress the table, and the versioned commit
  // keeps replays exactly-once (StreamingSpec proves both on manual
  // batches). The oracle recomputes the profile from raw history: the
  // incrementally-maintained table must equal it exactly. At 100 TB the
  // merge touches profile-sized state (distinct keys), never history.
  def q223(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = graft.TempDirs.fresh("graft_cdc")
    val table = s"$base/table"
    graft.streaming.Streams.drainBatches(graft.streaming.Streams.eventsStream(s, d),
        s"$base/ckpt") { (batch, id) =>
      val partials = batch.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("l"),
          count(lit(1)).as("n_updates"))
        .select(col("user_id"), col("l.ts").as("ts"),
          col("l.event_id").as("event_id"),
          col("l.event_type").as("last_type"),
          col("l.value").as("last_val"), col("n_updates"))
      graft.streaming.Rollup.mergeLatestInto(s, partials, table,
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        sumCols = Seq("n_updates"), batchId = id)
    }
    graft.streaming.Rollup.readRollup(s, table)
      .select($"user_id", fmtS(expr("ts div 1000000000")).as("last_s"),
        $"last_type", $"last_val", $"n_updates")
      .orderBy($"user_id")
  }
  val q223Sql: String =
    """WITH ranked AS (
      |  SELECT user_id, event_type, value, ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rk,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_updates
      |  FROM events)
      |SELECT user_id,
      |  strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS last_s,
      |  event_type AS last_type, value AS last_val,
      |  CAST(n_updates AS BIGINT) AS n_updates
      |FROM ranked WHERE rk = 1
      |ORDER BY user_id""".stripMargin

  // --- q228: chained stateful streaming aggregations (hourly → daily) ------
  // Two windowed aggregations in ONE streaming query
  // (Streams.dailyFromHourly): hourly counts re-aggregated into daily
  // windows through window_time, both state stores driven by the single
  // watermark — Spark's multiple-stateful-operator machinery under the
  // oracle gate. Append mode emits a day only once the watermark passes
  // its end, so the drained result is restricted to the provably-emitted
  // region (day end ≤ max − 2 h — the q157/q172 cutoff discipline; every
  // hourly window inside an emitted day closed before the day did, so no
  // partially-counted day can emit). The oracle recomputes emitted days
  // from raw history: n_events per (day, type) plus the distinct
  // non-empty hours feeding the day — checking BOTH stateful stages.
  def q228(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = graft.streaming.Streams.dailyFromHourly(
      graft.streaming.Streams.eventsStream(s, d))
    val drained = graft.streaming.Streams.runToMemory(s, daily, "q228_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val maxNs = Tables.events(s, d).agg(max($"ts")).head.getLong(0)
    val cutUs = maxNs / 1000L - 2L * 3600 * 1000000
    drained
      .filter(unix_micros(to_timestamp($"day_start")) +
        86400L * 1000000 <= cutUs)
      .orderBy($"day_start", $"event_type")
  }
  val q228Sql: String =
    """WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
      |hourly AS (
      |  SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS dd,
      |    event_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT strftime(dd, '%Y-%m-%d %H:%M:%S') AS day_start, event_type,
      |  CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(COUNT(*) AS BIGINT) AS n_hours
      |FROM hourly, mx
      |WHERE epoch_us(dd) + 86400000000 <= m - 7200000000
      |GROUP BY 1, 2
      |ORDER BY day_start, event_type""".stripMargin

  // --- q231: watermark late-data accounting (deterministic drop replay) ----
  // Pins down WHAT the watermark actually drops — which is subtler than
  // "rows older than the delay": a late row is dropped iff its window's
  // state was ALREADY EVICTED, and eviction happens at the end of the
  // first micro-batch whose in-effect watermark (max event time through
  // the PREVIOUS batch, minus delay) passed the window end. Proven here
  // by a three-batch replay with controlled file mtimes (the q201
  // ordering precedent): old evens, then new evens (whose arrival
  // advances the watermark and evicts the old windows), then ALL odds as
  // the late batch. Odd rows for evicted windows (end ≤ w1 = max old
  // even ts − 2 h, ms-floored exactly as Spark tracks event time) are
  // dropped and counted in numRowsDroppedByWatermark — the query
  // REQUIRES that metric positive, and a two-batch variant of this
  // replay was measured to drop NOTHING (state still live ⇒ late rows
  // merge), which is why the eviction batch exists. The oracle restates
  // the full semantics from raw history: evens always count, odds only
  // where the hour end clears w1; emitted region = hour end ≤ final
  // watermark (the q228 cutoff discipline).
  private val lateCutDay = 19743L // 2024-01-21: old/new even split

  /** The three-file late-replay layout q231 streams (also driven by the
    * QTime `-q231dbg` probe — ONE builder, so the shared persistent
    * artifact cannot diverge between the query and the probe). */
  private[graft] def lateSplitStage(s: SparkSession, d: String): java.nio.file.Path =
    graft.Stage.derived("events_late_split3", d) { p =>
      import s.implicits._
      def writeOne(df: DataFrame, name: String, mtimeMs: Long): Unit = {
        val tmp = p.resolve(s"tmp_$name")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listing = java.nio.file.Files.list(tmp)
        val part = try listing.toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        finally listing.close()
        val dest = p.resolve(name)
        java.nio.file.Files.move(java.nio.file.Paths.get(part), dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
      val raw = Tables.events(s, d) // canonical long-ns ts
      val day = expr("ts div 1000000000 div 86400")
      val t0 = System.currentTimeMillis() - 300000
      writeOne(raw.filter($"event_id" % 2 === 0 && day < lateCutDay),
        "f1_even_old.parquet", t0)
      writeOne(raw.filter($"event_id" % 2 === 0 && day >= lateCutDay),
        "f2_even_new.parquet", t0 + 60000)
      writeOne(raw.filter($"event_id" % 2 === 1), "f3_odd.parquet",
        t0 + 120000)
    }

  def q231(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val staged = lateSplitStage(s, d)
    val stream = graft.streaming.Streams.eventsStream(s, staged.toString,
      glob = "*.parquet", maxFilesPerTrigger = Some(1))
    val hourly = stream
      .withWatermark("ts_us", "2 hours")
      .groupBy(window($"ts_us", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select(date_format($"w.start", fmtPattern).as("hour_start"),
        $"event_type", $"n_events")
    val (drained, progress) = graft.streaming.Streams.runToMemoryTracked(
      s, hourly, "q231_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val droppedLate = progress.flatMap(_.stateOperators.map(
      _.numRowsDroppedByWatermark)).sum
    require(droppedLate > 0,
      s"late odd-half rows must be dropped by the watermark (got $droppedLate)")
    val maxNs = Tables.events(s, d).agg(max($"ts")).head.getLong(0)
    val cutMs = maxNs / 1000000L - 2L * 3600 * 1000
    drained
      .filter(unix_micros(to_timestamp($"hour_start")) / 1000 +
        3600L * 1000 <= cutMs)
      .orderBy($"hour_start", $"event_type")
  }
  val q231Sql: String =
    """WITH wm AS (
      |  SELECT MAX(CASE WHEN event_id % 2 = 0
      |        AND epoch_us(ts) // 1000000 // 86400 < 19743
      |      THEN epoch_us(ts) END) // 1000 - 7200000 AS w1,
      |    MAX(epoch_us(ts)) // 1000 - 7200000 AS w2
      |  FROM events),
      |h AS (
      |  SELECT date_trunc('hour', ts) AS hh, event_type,
      |    CAST(COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END) AS BIGINT)
      |      AS n_even,
      |    CAST(COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT)
      |      AS n_odd
      |  FROM events GROUP BY 1, 2)
      |SELECT * FROM (
      |  SELECT strftime(hh, '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
      |    n_even + CASE WHEN (epoch_us(hh) + 3600000000) // 1000 > wm.w1
      |      THEN n_odd ELSE 0 END AS n_events
      |  FROM h, wm
      |  WHERE (epoch_us(hh) + 3600000000) // 1000 <= wm.w2)
      |-- a group holding ONLY dropped-late rows never forms on the stream
      |-- side; mirror by removing computed-zero groups
      |WHERE n_events > 0
      |ORDER BY hour_start, event_type""".stripMargin

  // --- q234: longest consecutive-day activity streaks (gaps and islands) ---
  // The retention-engineering classic, distinct from µs-gap sessionization
  // (q27): group each user's distinct active DAYS into maximal runs of
  // consecutive days via the island key `day − dense_rank(day)` (constant
  // within a run, shifts at every gap), then keep each user's longest
  // run with deterministic earliest-start tie-breaks. All integer
  // arithmetic; one shuffle to the distinct (user, day) grid — the window
  // runs per user, never globally — and a TakeOrdered(20) finisher.
  def q234(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val days = Tables.events(s, d)
      .select($"user_id", expr("(ts div 1000000000) div 86400").as("day"))
      .distinct()
    val wU = Window.partitionBy($"user_id").orderBy($"day")
    val runs = days
      .withColumn("island", $"day" - dense_rank().over(wU))
      .groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("len"), min($"day").as("start_day"))
    runs.groupBy($"user_id")
      .agg(max(struct($"len", (-$"start_day").as("nsd"))).as("best"),
        sum($"len").as("n_active_days"), count(lit(1)).as("n_streaks"))
      .select($"user_id", $"best.len".as("longest_streak"),
        (-$"best.nsd").as("streak_start_day"), $"n_active_days", $"n_streaks")
      .orderBy($"longest_streak".desc, $"user_id")
      .limit(20)
  }
  val q234Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 86400 AS day
      |  FROM events),
      |runs AS (
      |  SELECT user_id,
      |    day - DENSE_RANK() OVER (PARTITION BY user_id ORDER BY day)
      |      AS island, day
      |  FROM days),
      |agg AS (
      |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
      |    MIN(day) AS start_day
      |  FROM runs GROUP BY 1, 2),
      |best AS (
      |  SELECT user_id, len AS longest_streak, start_day AS streak_start_day,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY len DESC, start_day) AS rn
      |  FROM agg),
      |tot AS (
      |  SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
      |    CAST(COUNT(*) AS BIGINT) AS n_streaks
      |  FROM agg GROUP BY 1)
      |SELECT b.user_id, b.longest_streak, b.streak_start_day,
      |  t.n_active_days, t.n_streaks
      |FROM best b JOIN tot t USING (user_id)
      |WHERE b.rn = 1
      |ORDER BY b.longest_streak DESC, b.user_id
      |LIMIT 20""".stripMargin

  // --- q239: population stability index (PSI) drift monitor -----------------
  // The model-monitoring companion to q202's JSD: PSI between the FIRST
  // half of the observation window (reference) and the second (current),
  // per event type, over the value distribution — the standard "has the
  // feature my model was trained on drifted" gate (banking scorecard
  // practice; same family as Lin 2017's drift monitors). Σ_bins
  // (p_cur − p_ref)·ln(p_cur/p_ref); PSI > 0.2 is the conventional alarm.
  // Design for exactness + scale:
  //  - the split day and the reference max-cents are ONE-ROW broadcast
  //    aggregates (the Upsert convention), so the heavy scans stay
  //    map-side-combinable counts; nothing sorts, nothing collects.
  //  - bins are ten equal-width slices of the REFERENCE cents range
  //    [0, maxvc] via pure long arithmetic (vc·10 div (maxvc+1), clamped
  //    to 9 so current-side outliers land in the top bin) — no quantile
  //    sort at 100 TB, and the bucket rule restates verbatim in DuckDB.
  //  - Laplace +1 smoothing on a DENSE type×10 grid (types × sequence
  //    explode, left-join counts) so empty bins contribute finite terms
  //    instead of ±∞ — the documented convention, mirrored in the oracle.
  //  - each bin's term is one fixed IEEE chain from exact longs, snapped
  //    to the 1e-9 grid and summed as longs (the q202/q106 convention).
  // Degenerate single-day window: split is clamped to min_day+1 so the
  // reference always contains the first day.
  def q239(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      expr("(ts div 1000000000) div 86400").as("day"), $"event_type",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"))
    val split = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(greatest(expr("(d0 + d1 + 1) div 2"), $"d0" + 1).as("split"))
    val withSplit = ev.crossJoin(broadcast(split)) // one row
    val refMax = withSplit.filter($"day" < $"split")
      .agg(max($"vc").as("maxvc"))
    // persist: types×10 rows at most, but two downstream branches (the
    // dense-grid seed and the left join) would otherwise each re-run the
    // corpus-sized count scan. LRU-evicted via the CacheLifecycle contract.
    import graft.CacheLifecycle.TrackedPersistOps
    val counts = withSplit.crossJoin(broadcast(refMax)) // one row
      .select($"event_type",
        least(expr("vc * 10 div (maxvc + 1)"), lit(9L)).as("bin"),
        ($"day" < $"split").as("is_ref"))
      .groupBy($"event_type", $"bin")
      .agg(sum(when($"is_ref", 1L).otherwise(0L)).as("c_r"),
        sum(when(!$"is_ref", 1L).otherwise(0L)).as("c_c"))
      .persistTracked()
    val dense = counts.select($"event_type").distinct()
      .select($"event_type", explode(sequence(lit(0L), lit(9L))).as("bin"))
      .join(counts, Seq("event_type", "bin"), "left")
      .select($"event_type", $"bin",
        coalesce($"c_r", lit(0L)).as("c_r"), coalesce($"c_c", lit(0L)).as("c_c"))
    val tot = dense.groupBy($"event_type")
      .agg(sum($"c_r").as("n_r"), sum($"c_c").as("n_c"))
    val pC = ($"c_c" + 1) * lit(1.0) / ($"n_c" + 10)
    val pR = ($"c_r" + 1) * lit(1.0) / ($"n_r" + 10)
    dense.join(broadcast(tot), "event_type")
      .withColumn("e9", round((pC - pR) * log(pC / pR) * lit(1e9)).cast("long"))
      .groupBy($"event_type")
      .agg(min($"n_r").as("n_ref"), min($"n_c").as("n_cur"),
        sum($"e9").as("psi_e9"))
      .select($"event_type", $"n_ref", $"n_cur",
        ($"psi_e9".cast("double") / lit(1e9)).as("psi"))
      .orderBy($"event_type")
  }
  val q239Sql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 1000000 // 86400 AS day, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM events),
      |b AS (SELECT GREATEST((MIN(day) + MAX(day) + 1) // 2, MIN(day) + 1)
      |        AS split FROM ev),
      |rm AS (SELECT MAX(vc) AS maxvc FROM ev, b WHERE day < split),
      |g AS (
      |  SELECT event_type, LEAST(vc * 10 // (maxvc + 1), 9) AS bin,
      |    CAST(SUM(CASE WHEN day < split THEN 1 ELSE 0 END) AS BIGINT) AS c_r,
      |    CAST(SUM(CASE WHEN day >= split THEN 1 ELSE 0 END) AS BIGINT) AS c_c
      |  FROM ev, b, rm GROUP BY 1, 2),
      |dense AS (
      |  SELECT t.event_type, bins.bin,
      |    COALESCE(g.c_r, 0) AS c_r, COALESCE(g.c_c, 0) AS c_c
      |  FROM (SELECT DISTINCT event_type FROM g) t
      |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) bins
      |  LEFT JOIN g ON g.event_type = t.event_type AND g.bin = bins.bin),
      |tot AS (
      |  SELECT event_type, CAST(SUM(c_r) AS BIGINT) AS n_r,
      |    CAST(SUM(c_c) AS BIGINT) AS n_c
      |  FROM dense GROUP BY 1),
      |term AS (
      |  SELECT d.event_type, n_r, n_c,
      |    CAST(ROUND((((c_c + 1) * 1.0 / (n_c + 10))
      |               - ((c_r + 1) * 1.0 / (n_r + 10)))
      |      * ln(((c_c + 1) * 1.0 / (n_c + 10))
      |         / ((c_r + 1) * 1.0 / (n_r + 10))) * 1e9) AS BIGINT) AS e9
      |  FROM dense d JOIN tot USING (event_type))
      |SELECT event_type, MIN(n_r) AS n_ref, MIN(n_c) AS n_cur,
      |  CAST(SUM(e9) AS DOUBLE) / 1e9 AS psi
      |FROM term GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q249: exponential smoothing (exact dyadic EWMA) -----------------------
  // The forecast-baseline smoother next to q163's seasonal baseline and
  // q150's rolling anomaly: EWMA with α = 1/2 over the last ten
  // OBSERVATIONS of each type's daily revenue. α = 1/2 is chosen so the
  // weights are powers of two — the whole smoother stays on the exact
  // integer grid (numerator Σ xₖ·2^(9−k) and denominator Σ 2^(9−k) are
  // exact, one integral divide at the end), where a general-α EWMA is an
  // order-dependent double recurrence no hash gate could pin. The window
  // is observation-based (missing calendar days compress, documented) and
  // truncated at 10 lags: 2^-10 < 0.1 % — below the cents grid anyway.
  // Shape: one corpus aggregation to the (type, day) grid, then ten
  // lag() reads inside a per-type window over that tiny grid; the fact
  // table is never windowed.
  def q249(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    val daily = Tables.events(s, d)
      .groupBy($"event_type", expr("(ts div 1000000000) div 86400").as("day"))
      .agg(sum(($"value".cast("decimal(18,2)") * 100).cast("long")).as("x"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val num = (0 to 9).map(k =>
        coalesce(lag($"x", k).over(w), lit(0L)).cast(big) * lit(1L << (9 - k)))
      .reduce(_ + _)
    val den = (0 to 9).map(k =>
        when(lag($"x", k).over(w).isNotNull, lit(1L << (9 - k))).otherwise(lit(0L)))
      .reduce(_ + _)
    daily
      .withColumn("n_obs", (0 to 9).map(k =>
        when(lag($"x", k).over(w).isNotNull, 1L).otherwise(0L)).reduce(_ + _))
      .withColumn("num", num).withColumn("den", den)
      .select($"event_type", $"day", $"x".as("x_cents"), $"n_obs",
        expr(s"cast(num div cast(den as $big) as bigint)").as("ewma_cents"))
      .orderBy($"event_type", $"day")
  }
  val q249Sql: String = {
    val num = (0 to 9).map(k =>
      s"COALESCE(CAST(LAG(x, $k) OVER w AS HUGEINT), 0) * ${1L << (9 - k)}")
      .mkString(" + ")
    val den = (0 to 9).map(k =>
      s"(CASE WHEN LAG(x, $k) OVER w IS NOT NULL THEN ${1L << (9 - k)} ELSE 0 END)")
      .mkString(" + ")
    val nobs = (0 to 9).map(k =>
      s"(CASE WHEN LAG(x, $k) OVER w IS NOT NULL THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH daily AS (
       |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
       |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, day, x AS x_cents,
       |  CAST($nobs AS BIGINT) AS n_obs,
       |  CAST(($num) // ($den) AS BIGINT) AS ewma_cents
       |FROM daily
       |WINDOW w AS (PARTITION BY event_type ORDER BY day)
       |ORDER BY event_type, day""".stripMargin
  }

  // --- q250: peak concurrency (interval sweep, day-sliced) --------------------
  // Capacity planning: how many sessions were open AT ONCE, per day — the
  // question autoscaling budgets and license counts hang on. Sessions are
  // the 30-minute-gap kind (q95/q165's convention) built with per-user
  // windows; each session then becomes ±1 boundary deltas and the peak is
  // the max of the running sum — the classic sweep line. The 100 TB shape
  // is the q158 move: sessions are CLIPPED to day slices first, so the
  // sweep's cumulative sum runs inside (day) partitions — a session open
  // at midnight re-enters the next day as a +1 at the day boundary, and
  // no global single-partition ordering ever exists. Determinism on ties:
  // the sweep orders by (t, delta DESC) — starts before ends at the same
  // instant (a touch counts as overlap), and permuting equal-(t,delta)
  // rows permutes identical prefix values, so max() is order-invariant.
  // Exactness: pure integer counts end-to-end.
  def q250(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val GAP = 1800L * 1000000000L
    val DAY = 86400L * 1000000000L
    val wu = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sess = Tables.events(s, d).select($"user_id", $"event_id", $"ts")
      .withColumn("new_s",
        when($"ts" - lag($"ts", 1).over(wu) <= GAP, 0L).otherwise(1L))
      .withColumn("sid", sum($"new_s")
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min($"ts").as("st"), max($"ts").as("en"))
    // clip to day slices (q158 boundary replication): one row per
    // (session, covered day); gap ≤ 30 min bounds the fan-out at 2
    val slices = sess
      .withColumn("day", explode(expr(s"sequence(st div $DAY, en div $DAY)")))
      .select($"day",
        greatest($"st", $"day" * DAY).as("a"),
        least($"en", ($"day" + 1) * DAY - 1).as("b"))
    val deltas = slices.select($"day", $"a".as("t"), lit(1L).as("delta"))
      .unionByName(slices.select($"day", ($"b" + 1).as("t"), lit(-1L).as("delta")))
    val sweep = Window.partitionBy($"day").orderBy($"t", $"delta".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("running", sum($"delta").over(sweep))
      .groupBy($"day")
      .agg(max($"running").as("peak_concurrent"),
        sum(when($"delta" > 0, 1L).otherwise(0L)).as("n_active_sessions"))
      .orderBy($"day")
  }
  val q250Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) * 1000 AS tns FROM events),
      |marked AS (
      |  SELECT user_id, event_id, tns,
      |    CASE WHEN tns - LAG(tns) OVER (PARTITION BY user_id
      |        ORDER BY tns, event_id) <= 1800000000000 THEN 0 ELSE 1 END
      |      AS new_s
      |  FROM ev),
      |sess AS (
      |  SELECT user_id, sid, MIN(tns) AS st, MAX(tns) AS en FROM (
      |    SELECT user_id, tns, SUM(new_s) OVER (PARTITION BY user_id
      |      ORDER BY tns, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |    FROM marked)
      |  GROUP BY 1, 2),
      |slices AS (
      |  SELECT u.day,
      |    GREATEST(st, u.day * 86400000000000) AS a,
      |    LEAST(en, (u.day + 1) * 86400000000000 - 1) AS b
      |  FROM sess, LATERAL (SELECT unnest(range(st // 86400000000000,
      |    en // 86400000000000 + 1)) AS day) u),
      |deltas AS (
      |  SELECT day, a AS t, 1 AS delta FROM slices
      |  UNION ALL
      |  SELECT day, b + 1 AS t, -1 AS delta FROM slices),
      |run AS (
      |  SELECT day, delta, SUM(delta) OVER (PARTITION BY day
      |    ORDER BY t, delta DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      |  FROM deltas)
      |SELECT day, CAST(MAX(running) AS BIGINT) AS peak_concurrent,
      |  CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_active_sessions
      |FROM run GROUP BY day
      |ORDER BY day""".stripMargin

  // --- q257: linear multi-touch attribution -----------------------------------
  // q114's last-touch rule upgraded to the split-credit model: each
  // purchase distributes its one unit of credit EQUALLY over the user's
  // click/view touches in the preceding 7 days; purchases with no touch
  // window are credited to 'direct'. Exactness: per-touch credit is the
  // ppm integral share 1e6 div n_touches, so a conversion's credits sum
  // to ≤ 1e6 with deterministic truncation dust (documented — the
  // alternative, doubles, would make per-channel sums order-dependent).
  // Shape: the touch↔conversion pairing is a per-user interval join
  // (equi on user + range on time), shuffling each side once by user;
  // per-user fan-out is touches×conversions within a 7-day window —
  // bounded by activity density, the q29 range-join argument. Aggregates
  // land on a ≤3-row channel table.
  def q257(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val WEEK = 7L * 86400L * 1000000000L
    val ev = Tables.events(s, d)
    val convs = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("conv_id"), $"ts".as("tp"))
    val touches = ev.filter($"event_type".isin("click", "view"))
      .select($"user_id", $"event_type".as("channel"), $"ts".as("tt"))
    // the window predicate lives IN the join condition: a conversion whose
    // touches are all out-of-window must null-extend (→ 'direct'), not
    // vanish under a post-join filter
    val paired = convs.as("c").join(touches.as("t"),
        $"c.user_id" === $"t.user_id"
          && $"t.tt" < $"c.tp" && $"t.tt" >= $"c.tp" - WEEK, "left")
      .select($"conv_id", $"channel", $"tt")
    // n_touches via a per-conversion window, not a broadcast of the
    // conversion-sized aggregate (too big to broadcast at 100 TB) and
    // not a second scan of the pair table
    val credited = paired
      .withColumn("n_touches",
        count($"tt").over(Window.partitionBy($"conv_id")))
      .withColumn("channel2",
        when($"n_touches" === 0, lit("direct")).otherwise($"channel"))
      .withColumn("credit_ppm",
        when($"n_touches" === 0, lit(1000000L))
          .otherwise(expr("1000000 div n_touches")))
    credited.groupBy($"channel2".as("channel"))
      .agg(sum($"credit_ppm").as("credited_ppm"),
        countDistinct($"conv_id").as("n_conversions"),
        count(when($"n_touches" > 0, 1L)).as("n_touches"))
      .orderBy($"channel")
  }
  val q257Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) * 1000 AS tns
      |  FROM events),
      |convs AS (
      |  SELECT user_id, event_id AS conv_id, tns AS tp FROM ev
      |  WHERE event_type = 'purchase'),
      |touches AS (
      |  SELECT user_id, event_type AS channel, tns AS tt FROM ev
      |  WHERE event_type IN ('click', 'view')),
      |paired AS (
      |  SELECT c.conv_id, t.channel, t.tt
      |  FROM convs c LEFT JOIN touches t
      |    ON t.user_id = c.user_id
      |   AND t.tt < c.tp AND t.tt >= c.tp - 604800000000000),
      |credited AS (
      |  SELECT conv_id,
      |    CASE WHEN n_touches = 0 THEN 'direct' ELSE channel END
      |      AS channel,
      |    CASE WHEN n_touches = 0 THEN 1000000
      |         ELSE 1000000 // n_touches END AS credit_ppm,
      |    n_touches
      |  FROM (SELECT conv_id, channel, tt,
      |          CAST(COUNT(tt) OVER (PARTITION BY conv_id) AS BIGINT)
      |            AS n_touches
      |        FROM paired))
      |SELECT channel, CAST(SUM(credit_ppm) AS BIGINT) AS credited_ppm,
      |  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
      |  CAST(COUNT(CASE WHEN n_touches > 0 THEN 1 END) AS BIGINT)
      |    AS n_touches
      |FROM credited GROUP BY 1
      |ORDER BY channel""".stripMargin

  // --- q258: rolling median (trailing 7-observation window) --------------------
  // The robust companion to q150's rolling z-score: a trailing
  // 7-observation median of each type's daily revenue — the smoother
  // dashboards use when one spike day must not drag the baseline (median
  // absorbs what a mean chases). percentile() as a WINDOW aggregate over
  // (type, day-ordered) frames; both engines interpolate identically on
  // exact inputs (the q230 argument), and the inputs are daily
  // cents-integer sums so there is no upstream double drift. Windows run
  // over the tiny (type, day) grid, never the fact table; rounded at 1e-6.
  def q258(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"event_type", expr("(ts div 1000000000) div 86400").as("day"))
      .agg(sum(($"value".cast("decimal(18,2)") * 100).cast("long")).as("x"))
    val w7 = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("n_window", count(lit(1)).over(w7))
      .withColumn("med7",
        round(expr("percentile(x, 0.5)").over(w7) / 100.0, 6))
      .select($"event_type", $"day", $"x".as("x_cents"), $"n_window", $"med7")
      .orderBy($"event_type", $"day")
  }
  val q258Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, x AS x_cents,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS n_window,
      |  ROUND(quantile_cont(x, 0.5) OVER w / 100.0, 6) AS med7
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY day
      |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day""".stripMargin

  // --- q273: Fano factor (overdispersion index of daily arrivals) ---------------
  // The Poisson-ness check on arrival counts (index of dispersion; Cox &
  // Lewis 1966): per event type, variance-to-mean ratio of the DAILY
  // event counts — F ≈ 1 is Poisson traffic, F ≫ 1 is bursty/clumped
  // (bot storms, batch replays), F ≪ 1 is suspiciously regular
  // (machine-generated heartbeats) — a one-number feed screen beside
  // q245's HHI. Exactness: the q60 convention — exact long daily counts,
  // Σx and Σx² as decimal/HUGEINT sums, sample variance and the ratio in
  // ONE double chain snapped at 1e-6. The day grid is DENSE over each
  // type's [min, max] day span (a zero-event day is a real observation
  // of zero — dropping it biases F upward), built by a per-type sequence
  // explode, not a scan.
  def q273(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    val daily = Tables.events(s, d)
      .groupBy($"event_type", expr("(ts div 1000000000) div 86400").as("day"))
      .agg(count(lit(1)).as("x"))
    val span = daily.groupBy($"event_type")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
    val dense = span
      .select($"event_type", explode(expr("sequence(d0, d1)")).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select($"event_type", coalesce($"x", lit(0L)).as("x"))
    dense.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"x").as("n_events"),
        sum($"x".cast(big)).as("s"),
        sum($"x".cast(big) * $"x".cast(big)).as("ssq"))
      // Degenerate single-day span: sample variance needs n_days > 1; the
      // unguarded (n_days - 1) divisor gives Infinity here vs DuckDB's
      // NULL from CAST(ROUND(inf) AS BIGINT) — both engines now agree on
      // an explicit NULL (a one-day feed has no dispersion to measure).
      .select($"event_type", $"n_days", $"n_events",
        when($"n_days" > 1,
          round((($"ssq".cast("double")
            - $"s".cast("double") * $"s".cast("double") / $"n_days")
            / ($"n_days" - 1) / ($"s".cast("double") / $"n_days")) * lit(1e6))
            .cast("long").cast("double") / lit(1e6))
          .otherwise(lit(null).cast("double")).as("fano"))
      .orderBy($"event_type")
  }
  val q273Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (
      |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      |  FROM daily GROUP BY 1),
      |grid AS (
      |  SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM span),
      |dense AS (
      |  SELECT grid.event_type, COALESCE(x, 0) AS x
      |  FROM grid LEFT JOIN daily USING (event_type, day))
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(x) AS BIGINT) AS n_events,
      |  CASE WHEN COUNT(*) > 1 THEN
      |  CAST(CAST(ROUND((CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE)
      |      - CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE)
      |        * CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) / COUNT(*))
      |    / (COUNT(*) - 1)
      |    / (CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) / COUNT(*)) * 1e6)
      |    AS BIGINT) AS DOUBLE) / 1e6 END AS fano
      |FROM dense GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q270: DAU growth accounting (new/retained/resurrected/churned) ----------
  // The growth decomposition every product review reads (the
  // "growth accounting" identity: DAU_t = new_t + retained_t +
  // resurrected_t, and DAU_t − DAU_{t−1} = new + resurrected − churned):
  // per active (user, day), classify by the user's PREVIOUS active day —
  // first ever → new, yesterday → retained, earlier → resurrected — and
  // count a churn against day+1 when the next active day is not
  // adjacent (censored at the corpus horizon: a user last active on the
  // final day has not churned). Shape: one distinct to the (user, day)
  // activity grid, lag/lead inside per-user windows, two tiny day-grain
  // aggregations full-outer-joined (a churn can land on a day with no
  // other activity). Exact integer counts throughout.
  def q270(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val act = Tables.events(s, d)
      .select($"user_id", expr("(ts div 1000000000) div 86400").as("day"))
      .distinct()
    val horizon = act.agg(max($"day").as("max_day"))
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val flagged = act
      .withColumn("prev", lag($"day", 1).over(w))
      .withColumn("nxt", lead($"day", 1).over(w))
      .crossJoin(broadcast(horizon)) // one row
    val daily = flagged.groupBy($"day")
      .agg(count(lit(1)).as("dau"),
        sum(when($"prev".isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when($"prev" === $"day" - 1, 1L).otherwise(0L)).as("n_retained"),
        sum(when($"prev".isNotNull && $"prev" < $"day" - 1, 1L).otherwise(0L))
          .as("n_resurrected"))
    val churn = flagged
      .filter(($"nxt".isNull && $"day" < $"max_day") || $"nxt" > $"day" + 1)
      .select(($"day" + 1).as("day"))
      .groupBy($"day").agg(count(lit(1)).as("n_churned"))
    daily.join(churn, Seq("day"), "full_outer")
      .select($"day", coalesce($"dau", lit(0L)).as("dau"),
        coalesce($"n_new", lit(0L)).as("n_new"),
        coalesce($"n_retained", lit(0L)).as("n_retained"),
        coalesce($"n_resurrected", lit(0L)).as("n_resurrected"),
        coalesce($"n_churned", lit(0L)).as("n_churned"))
      .orderBy($"day")
  }
  val q270Sql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 86400 AS day
      |  FROM events),
      |h AS (SELECT MAX(day) AS max_day FROM act),
      |f AS (
      |  SELECT user_id, day,
      |    LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
      |    LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
      |  FROM act),
      |daily AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau,
      |    CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_new,
      |    CAST(SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_retained,
      |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM f GROUP BY 1),
      |churn AS (
      |  SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
      |  FROM f, h
      |  WHERE (nxt IS NULL AND day < max_day) OR nxt > day + 1
      |  GROUP BY 1)
      |SELECT COALESCE(daily.day, churn.day) AS day,
      |  COALESCE(dau, 0) AS dau, COALESCE(n_new, 0) AS n_new,
      |  COALESCE(n_retained, 0) AS n_retained,
      |  COALESCE(n_resurrected, 0) AS n_resurrected,
      |  COALESCE(n_churned, 0) AS n_churned
      |FROM daily FULL JOIN churn ON daily.day = churn.day
      |ORDER BY day""".stripMargin

  // --- q266: STREAMING PSI drift monitor (q239's streaming twin) ---------------
  // The deployment shape of q239: the reference distribution is a STATIC
  // table (first half, as in q239), and the current half ARRIVES AS A
  // STREAM — a streaming aggregation in Complete mode accumulates the
  // current bin counts across micro-batches, and the PSI tail runs on the
  // drained grid. Oracle = q239Sql VERBATIM: the monitor must be
  // hash-equal to its batch twin once the backlog drains — the q127/q190
  // streaming-twin discipline. The split day and reference max are
  // bounded one-row driver reads (the Upsert convention) because the
  // stream-side bucket rule needs them as literals before the query
  // starts — exactly how a deployed monitor ships its frozen reference.
  // State: ≤ types×10 rows in the store; the dense-grid/Laplace/e9
  // arithmetic is q239's, applied to the ref ⟗ cur join.
  def q266(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.Streams
    val ev = Tables.events(s, d).select(
      expr("(ts div 1000000000) div 86400").as("day"), $"event_type",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"))
    val split = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(greatest(expr("(d0 + d1 + 1) div 2"), $"d0" + 1))
      .collect()(0).getLong(0) // one row
    val maxvc = ev.filter($"day" < split).agg(max($"vc"))
      .collect()(0).getLong(0) // one row
    val ref = ev.filter($"day" < split)
      .select($"event_type",
        least(expr(s"vc * 10 div (${maxvc + 1}L)"), lit(9L)).as("bin"))
      .groupBy($"event_type", $"bin").agg(count(lit(1)).as("c_r"))
    val curStream = Streams.eventsStream(s, d)
      .select(expr("(ts div 1000000000) div 86400").as("day"), $"event_type",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .filter($"day" >= split)
      .select($"event_type",
        least(expr(s"vc * 10 div (${maxvc + 1}L)"), lit(9L)).as("bin"))
      .groupBy($"event_type", $"bin").count()
    // Complete-mode drain — skip the no-op trailing batch (the q34 rule)
    val cur = Streams.runToMemory(s, curStream, "psi_stream",
      noDataBatch = false)
      .select($"event_type", $"bin", $"count".as("c_c"))
    // q239's tail, applied to the drained grid
    import graft.CacheLifecycle.TrackedPersistOps
    val counts = ref.join(cur, Seq("event_type", "bin"), "full_outer")
      .select($"event_type", $"bin",
        coalesce($"c_r", lit(0L)).as("c_r"), coalesce($"c_c", lit(0L)).as("c_c"))
      .persistTracked()
    val dense = counts.select($"event_type").distinct()
      .select($"event_type", explode(sequence(lit(0L), lit(9L))).as("bin"))
      .join(counts, Seq("event_type", "bin"), "left")
      .select($"event_type", $"bin",
        coalesce($"c_r", lit(0L)).as("c_r"), coalesce($"c_c", lit(0L)).as("c_c"))
    val tot = dense.groupBy($"event_type")
      .agg(sum($"c_r").as("n_r"), sum($"c_c").as("n_c"))
    val pC = ($"c_c" + 1) * lit(1.0) / ($"n_c" + 10)
    val pR = ($"c_r" + 1) * lit(1.0) / ($"n_r" + 10)
    dense.join(broadcast(tot), "event_type")
      .withColumn("e9", round((pC - pR) * log(pC / pR) * lit(1e9)).cast("long"))
      .groupBy($"event_type")
      .agg(min($"n_r").as("n_ref"), min($"n_c").as("n_cur"),
        sum($"e9").as("psi_e9"))
      .select($"event_type", $"n_ref", $"n_cur",
        ($"psi_e9".cast("double") / lit(1e9)).as("psi"))
      .orderBy($"event_type")
  }
  // the streaming monitor must be hash-equal to its batch twin
  val q266Sql: String = q239Sql

  // --- q281: MAD robust outlier screen (median absolute deviation) ----------
  // The outlier rule that survives what defeats q150's z-scores: mean
  // and stddev are themselves dragged by the outliers they are supposed
  // to find (masking), while the median/MAD pair has a 50% breakdown
  // point (Hampel 1974). Per event type on the exact cents grid: type-1
  // median, MAD = type-1 median of |x − med|, and the flag count at the
  // standard 3σ-equivalent |x − med| > 3·1.4826·MAD — kept as the pure
  // integer inequality dev·10000 > 44478·mad, so no float threshold can
  // straddle engines. Both medians come from value-HISTOGRAM cumsums
  // (the q276 mergeable-partial architecture: corpus-sized passes end at
  // grid-sized shuffles; no per-type full sort).
  def q281(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val ev = Tables.events(s, d).select($"event_type",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("c"))
      .persistTracked() // two passes: median grid, then deviation grid
    def typ1Med(df: DataFrame, valCol: String): DataFrame = {
      val wCum = Window.partitionBy($"event_type").orderBy(col(valCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"event_type")
      df.groupBy($"event_type", col(valCol)).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(wCum))
        .withColumn("n", sum($"cnt").over(wAll))
        .groupBy($"event_type")
        .agg(max($"n").as("n"),
          min(when($"cum" >= expr("(n + 1) div 2"), col(valCol))).as("med"))
    }
    val med = typ1Med(ev, "c").select($"event_type", $"n", $"med")
    val dev = ev.join(broadcast(med), "event_type")
      .select($"event_type", abs($"c" - $"med").as("dv"))
    val mad = typ1Med(dev, "dv")
      .select($"event_type", $"med".as("mad"))
    ev.join(broadcast(med), "event_type")
      .join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(min($"n").as("n"), min($"med").as("med_cents"),
        min($"mad").as("mad_cents"),
        sum(when(abs($"c" - $"med") * 10000 > lit(44478L) * $"mad", 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy($"event_type")
  }
  val q281Sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |h1 AS (
      |  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM ev GROUP BY 1, 2),
      |m1 AS (
      |  SELECT event_type, MAX(n) AS n,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN c END) AS med
      |  FROM (SELECT event_type, c,
      |          SUM(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
      |          SUM(cnt) OVER (PARTITION BY event_type) AS n
      |        FROM h1)
      |  GROUP BY event_type),
      |h2 AS (
      |  SELECT ev.event_type, ABS(c - med) AS dv, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM ev JOIN m1 USING (event_type) GROUP BY 1, 2),
      |m2 AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN dv END) AS mad
      |  FROM (SELECT event_type, dv,
      |          SUM(cnt) OVER (PARTITION BY event_type ORDER BY dv) AS cum,
      |          SUM(cnt) OVER (PARTITION BY event_type) AS n
      |        FROM h2)
      |  GROUP BY event_type)
      |SELECT event_type, CAST(MIN(n) AS BIGINT) AS n,
      |  CAST(MIN(med) AS BIGINT) AS med_cents,
      |  CAST(MIN(mad) AS BIGINT) AS mad_cents,
      |  CAST(SUM(CASE WHEN ABS(c - med) * 10000 > 44478 * mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM ev JOIN m1 USING (event_type) JOIN m2 USING (event_type)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q282: sequential pattern support (2-step behavioral mining) ----------
  // The PrefixSpan-style first mining pass product analytics actually
  // ships: which consecutive event-type transitions happen, how often,
  // and — the support metric that matters for sequence rules — for how
  // many DISTINCT users. Consecutive = adjacent in the user's
  // (ts, event_id) order, the repo-wide sequence convention. One window
  // pass to form transitions, one aggregation; user support via exact
  // count_distinct (user ids shuffle only per pattern key).
  def q282(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("nxt", lead($"event_type", 1).over(wOrd))
      .filter($"nxt".isNotNull)
      .select(concat($"event_type", lit(">"), $"nxt").as("pattern"),
        $"user_id")
      .groupBy($"pattern")
      .agg(count(lit(1)).as("n_occur"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"n_users".desc, $"pattern")
  }
  val q282Sql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS nxt
      |  FROM events)
      |SELECT event_type || '>' || nxt AS pattern,
      |  CAST(COUNT(*) AS BIGINT) AS n_occur,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM seq WHERE nxt IS NOT NULL
      |GROUP BY 1
      |ORDER BY n_users DESC, pattern""".stripMargin

  // --- q283: behavioral transition entropy (predictability screen) ----------
  // How predictable is what a user does NEXT given what they just did:
  // per current event type, the Shannon entropy of the next-event
  // distribution over the same consecutive transitions q282 mines.
  // H near log(k) = users wander uniformly; H near 0 = rigid flows
  // (scripted bots, forced funnels). Exactness is q111's per-TERM snap:
  // each −p·ln(p) is rounded to the 1e-9 integer grid BEFORE summing, so
  // the cross-engine sum is an exact long addition regardless of term
  // order. Transition counts are one windowed pass + one grid-sized
  // aggregation (types² cells).
  def q283(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("nxt", lead($"event_type", 1).over(wOrd))
      .filter($"nxt".isNotNull)
      .groupBy($"event_type", $"nxt").agg(count(lit(1)).as("c"))
    val wCur = Window.partitionBy($"event_type")
    trans
      .withColumn("n", sum($"c").over(wCur))
      .withColumn("e9", {
        val p = $"c" * lit(1.0) / $"n"
        round(-p * log(p) * lit(1e9)).cast("long")
      })
      .groupBy($"event_type")
      .agg(max($"n").as("n_trans"), count(lit(1)).as("n_succ"),
        (sum($"e9").cast("double") / lit(1e9)).as("h_trans"))
      .orderBy($"event_type")
  }
  val q283Sql: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS nxt
      |  FROM events),
      |t AS (
      |  SELECT event_type, nxt, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, c,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM t)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_trans,
      |  CAST(COUNT(*) AS BIGINT) AS n_succ,
      |  CAST(SUM(CAST(ROUND(-(c * 1.0 / n) * ln(c * 1.0 / n) * 1e9)
      |    AS BIGINT)) AS BIGINT) * 1.0 / 1e9 AS h_trans
      |FROM w GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q287: weighted sampling WITHOUT replacement (Efraimidis–Spirakis) ----
  // q233 draws WITH replacement from a weighted vocabulary; training-data
  // curation usually needs the other primitive: a weighted sample where
  // each row appears at most once (A-ES, Efraimidis & Spirakis 2006 —
  // key_i = u_i^(1/w_i), keep the top-k; equivalently rank −ln(u)/w
  // ascending, the numerically saner form used here). Per event-type
  // stratum, top-5 by key. Determinism: u = (md5-56-bit + 1)/2^56 — an
  // exact rational both engines carry through the SAME double chain
  // (the q111/q106 transcendental convention, snapped to 1e9·key longs
  // with event_id tie-breaks, so ranking never reads raw-double noise).
  // Shape: a narrow projection + one per-stratum top-k window — the q103
  // top-k-per-group pattern; no shuffle beyond the stratum key.
  def q287(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type")
      .orderBy($"key9".asc, $"event_id")
    Tables.events(s, d)
      .select($"event_id", $"event_type",
        (($"value".cast("decimal(18,2)") * 100).cast("long") + 1).as("w"))
      .withColumn("u",
        (conv(substring(md5(concat(lit("ws|"), $"event_id".cast("string"))),
          1, 14), 16, 10).cast("long") + 1).cast("double") / lit(7.2057594037927936e16))
      .withColumn("key9",
        round(-log($"u") / $"w" * lit(1e9)).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"event_type", $"rank", $"event_id", $"w", $"key9")
      .orderBy($"event_type", $"rank")
  }
  val q287Sql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) + 1 AS w,
      |    (CAST(('0x' || substr(md5('ws|' || CAST(event_id AS VARCHAR)),
      |      1, 14))::BIGINT AS BIGINT) + 1) / 7.2057594037927936e16 AS u
      |  FROM events),
      |k AS (
      |  SELECT event_type, event_id, w,
      |    CAST(ROUND(-ln(u) / w * 1e9) AS BIGINT) AS key9
      |  FROM ev)
      |SELECT event_type, rank, event_id, w, key9 FROM (
      |  SELECT event_type, event_id, w, key9,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY key9 ASC, event_id) AS rank
      |  FROM k)
      |WHERE rank <= 5
      |ORDER BY event_type, rank""".stripMargin

  // --- q289: day-partitioned lake checksum reconciliation -------------------
  // The integrity audit behind q218's staged event lake: per day, row
  // count and a CONTENT fingerprint (sum of 48-bit md5 keys over the
  // canonical row string, summed in decimal(38,0)/HUGEINT — order-free
  // and exact) computed from BOTH the source table and the staged
  // layout, with an `ok` verdict. The oracle recomputes count and
  // fingerprint from the source only and asserts parity — a lake
  // partition that lost, duplicated, or altered a row flips `ok` and
  // hash-misses. At 100 TB this is how nightly reconciliation proves a
  // derived layout without row-by-row diffs: two scans, day-keyed
  // aggregation, constant-width output.
  def q289(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def fp(df: DataFrame, dayCol: org.apache.spark.sql.Column): DataFrame = df
      .select(dayCol.cast("long").as("day"),
        conv(substring(md5(concat_ws("|",
          $"event_id".cast("string"), $"user_id".cast("string"),
          $"event_type",
          ($"value".cast("decimal(18,2)") * 100).cast("long")
            .cast("string"))), 1, 12),
          16, 10).cast("long").as("h"))
      .groupBy($"day")
      .agg(count(lit(1)).as("n"), sum($"h".cast("decimal(38,0)")).as("fp"))
    val src = fp(Tables.events(s, d), expr("(ts div 1000000000) div 86400"))
    val lake = fp(s.read.parquet(eventsByDayPath(s, d)), $"day")
    src.select($"day", $"n".as("n_src"), $"fp".as("fp_src"))
      .join(lake.select($"day", $"n".as("n_lake"), $"fp".as("fp_lake")),
        Seq("day"), "full")
      .select($"day", $"n_src", $"n_lake",
        ($"n_src" <=> $"n_lake" && $"fp_src" <=> $"fp_lake").as("ok"))
      .orderBy($"day")
  }
  val q289Sql: String =
    """WITH src AS (
      |  SELECT epoch_us(ts) // 1000000 // 86400 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(('0x' || substr(md5(
      |      CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
      |      || '|' || event_type || '|'
      |      || CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           AS VARCHAR)), 1, 12))::BIGINT AS HUGEINT)) AS fp
      |  FROM events GROUP BY 1)
      |SELECT day, n AS n_src, n AS n_lake, TRUE AS ok
      |FROM src
      |ORDER BY day""".stripMargin

  // --- q292: rollup snapshot ledger + time travel ---------------------------
  // The lakehouse table-format feature the versioned rollup machinery was
  // one flag away from: `retainVersions` keeps the last N committed
  // snapshots instead of pruning to one, `Rollup.versions` is the ledger,
  // and `Rollup.readVersion` is the time-travel read (exact committed
  // state — whole snapshots, not deltas, so no replay logic). Three
  // ingest batches (user_id mod 3) build an hourly rollup retaining all
  // three versions; the query reads EVERY snapshot and reports its group
  // count / event count / exact cents total. The oracle recomputes each
  // BATCH PREFIX from raw events — a snapshot that was pruned, skipped,
  // or contaminated by a later batch hash-misses. At 100 TB this is how
  // "what did the dashboard say yesterday" is answerable without
  // replaying history.
  def q292(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val staged = graft.Stage.derived("rollup_timetravel", d) { p =>
      val ev = Tables.events(s, d)
        .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
      (0 to 2).foreach { k =>
        graft.streaming.Rollup.mergeInto(s,
          graft.streaming.Rollup.hourlyPartials(ev.filter($"user_id" % 3 === k)),
          s"$p/hourly", Seq("event_type", "hour_start"), k.toLong,
          retainVersions = 3)
      }
    }
    val tp = s"$staged/hourly"
    graft.streaming.Rollup.versions(s, tp).map { v =>
      graft.streaming.Rollup.readVersion(s, tp, v)
        .agg(count(lit(1)).as("n_groups"), sum($"n_events").as("n_events"),
          (sum($"sum_value") * 100).cast("long").as("sum_cents"))
        .select(lit(v).as("version"), $"n_groups", $"n_events", $"sum_cents")
    }.reduce(_ unionByName _).orderBy($"version")
  }
  val q292Sql: String = {
    def prefix(k: Int): String =
      s"""SELECT $k AS version,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
         |     SELECT DISTINCT event_type, date_trunc('hour', ts)
         |     FROM events WHERE user_id % 3 <= $k)) AS n_groups,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_cents
         |FROM events WHERE user_id % 3 <= $k""".stripMargin
    s"""${prefix(0)}
       |UNION ALL ${prefix(1)}
       |UNION ALL ${prefix(2)}
       |ORDER BY version""".stripMargin
  }

  // --- q291: Gini coefficient of revenue concentration ----------------------
  // The Lorenz-curve inequality number beside q245's HHI (HHI reads
  // share-of-squares, Gini reads the whole distribution): per event
  // type, over per-user revenue totals, G = (2·Σ i·x_(i) − (n+1)·Σx) /
  // (n·Σx) with x ascending. FULLY integral: ranks are row_number over
  // (cents, user_id) — tied values make Σ i·x order-insensitive, so the
  // tie-break only pins the plan, not the value — and the quotient is
  // emitted as parts-per-billion through decimal(38,0)/HUGEINT products
  // and one `div`. No doubles anywhere. Shape: user totals (map-side
  // combine), one per-type rank window, one aggregation.
  def q291(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val users = Tables.events(s, d)
      .groupBy($"event_type", $"user_id")
      .agg(sum(($"value".cast("decimal(18,2)") * 100).cast("long")).as("x"))
    val w = Window.partitionBy($"event_type").orderBy($"x", $"user_id")
    users
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"),
        sum($"x").as("s0"),
        sum($"x".cast("decimal(38,0)") * $"i").as("s1"))
      .select($"event_type", $"n_users",
        expr("(2 * s1 - cast(n_users + 1 as decimal(38,0)) * s0) * 1000000000" +
          " div (cast(n_users as decimal(38,0)) * s0)").cast("long")
          .as("gini_ppb"))
      .orderBy($"event_type")
  }
  val q291Sql: String =
    """WITH users AS (
      |  SELECT event_type, user_id,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT event_type, x,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, user_id) AS i
      |  FROM users)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST((2 * SUM(CAST(x AS HUGEINT) * i)
      |      - (COUNT(*) + 1) * CAST(SUM(x) AS HUGEINT)) * 1000000000
      |    // (CAST(COUNT(*) AS HUGEINT) * SUM(x)) AS BIGINT) AS gini_ppb
      |FROM ranked GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q293: weekday seasonality index --------------------------------------
  // The day-of-week profile every ops dashboard carries: per event type
  // and weekday bucket, the revenue share against a flat week —
  // idx_ppm = cents_dow·7·1e6 / cents_type (1e6 = no seasonality).
  // The weekday is the PORTABLE bucket (epoch_day + 4) mod 7 (epoch day
  // 0 = Thursday, so 0 = Monday), not a calendar API — engine date
  // functions disagree on week conventions; integer arithmetic cannot.
  // Exact cents; one grid-sized aggregation; the per-type total is a
  // types-sized broadcast.
  def q293(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.events(s, d)
      .select($"event_type",
        expr("((ts div 1000000000) div 86400 + 4) % 7").as("dow"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("c"))
      .groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("n"), sum($"c").as("cents"))
    val byType = cells.groupBy($"event_type").agg(sum($"cents").as("tot_c"))
    cells.join(broadcast(byType), "event_type")
      .select($"event_type", $"dow", $"n", $"cents",
        expr("cast(cents as decimal(38,0)) * 7 * 1000000 div tot_c")
          .cast("long").as("idx_ppm"))
      .orderBy($"event_type", $"dow")
  }
  val q293Sql: String =
    """WITH cells AS (
      |  SELECT event_type,
      |    (epoch_us(ts) // 1000000 // 86400 + 4) % 7 AS dow,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |bt AS (SELECT event_type, CAST(SUM(cents) AS BIGINT) AS tot_c
      |       FROM cells GROUP BY 1)
      |SELECT event_type, CAST(dow AS BIGINT) AS dow, n, cents,
      |  CAST(CAST(cents AS HUGEINT) * 7 * 1000000 // tot_c AS BIGINT)
      |    AS idx_ppm
      |FROM cells JOIN bt USING (event_type)
      |ORDER BY event_type, dow""".stripMargin

  // --- q298: right-to-be-forgotten retraction audit --------------------------
  // The GDPR deletion contract on a derived artifact: a per-user rollup
  // is built from the full history, then the forgotten cohort
  // (user_id % 97 == 5) is REMOVED by merging negated partials with
  // dropEmptied (the q195 retraction machinery — deletion is a merge,
  // not a rewrite), and the audit reads the surviving table: remaining
  // user count, RESIDUAL rows for forgotten users (must be zero — a
  // tombstone row or a partial retraction both surface here), and the
  // surviving exact totals. The oracle recomputes everything from the
  // source with the cohort excluded — so a leftover row, a lost
  // bystander, or a drifted total all hash-miss. At 100 TB this is the
  // only viable shape: the erasure batch costs cohort-sized work against
  // a user-cardinality table, never a history rewrite.
  def q298(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def partials(df: DataFrame, sign: Int): DataFrame = df
      .groupBy($"user_id")
      .agg((count(lit(1)) * sign).as("n_events"),
        (sum(($"value".cast("decimal(18,2)") * 100).cast("long")) * sign)
          .as("cents"))
    val staged = graft.Stage.derived("forget_user_rollup", d) { p =>
      val ev = Tables.events(s, d)
      graft.streaming.Rollup.mergeInto(s, partials(ev, 1),
        s"$p/users", Seq("user_id"), 0L)
      graft.streaming.Rollup.mergeInto(s,
        partials(ev.filter($"user_id" % 97 === 5), -1),
        s"$p/users", Seq("user_id"), 1L, dropEmptied = true)
      ()
    }
    graft.streaming.Rollup.readRollup(s, s"$staged/users")
      .agg(count(lit(1)).as("n_users"),
        sum(when($"user_id" % 97 === 5, 1L).otherwise(0L))
          .as("n_forgotten_residual"),
        sum($"n_events").as("n_events"),
        sum($"cents").as("sum_cents"))
  }
  val q298Sql: String =
    """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(0 AS BIGINT) AS n_forgotten_residual,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events WHERE user_id % 97 <> 5""".stripMargin

  // --- q305: strict windowed funnel (per-step conversion deadlines) ----------
  // q98's funnel counts "ever after"; real funnel specs carry per-step
  // DEADLINES: view within 7 days of first signup, purchase within 7
  // days of that first qualifying view. The SeqPattern step compiler
  // with `within` deadlines (round 13 — the hand-rolled cascade this
  // query shared with q98 now lives in operators/SeqPattern): per user
  // the qualifying event is the EARLIEST one inside its window; counts
  // are exact and monotone by construction. Conversion ppm uses the
  // integral-div convention.
  def q305(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.SeqPattern
    val week = lit(7L * 86400 * 1000000000L)
    val steps = SeqPattern.funnel(Tables.events(s, d), "user_id", "ts", Seq(
      SeqPattern.Step("1_signup", $"event_type" === "signup"),
      SeqPattern.Step("2_view_7d", $"event_type" === "view", Some(week)),
      SeqPattern.Step("3_purchase_7d", $"event_type" === "purchase",
        Some(week))))
    val wAll = Window.orderBy($"step")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    steps
      .withColumn("first_n", first($"n_users").over(wAll))
      .select($"step", $"n_users",
        expr("n_users * 1000000 div first_n").cast("long")
          .as("conv_from_first_ppm"))
      .orderBy($"step")
  }
  val q305Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, MIN(epoch_us(ts)) AS t2
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE event_type = 'view' AND epoch_us(ts) >= t1
      |    AND epoch_us(ts) <= t1 + 604800000000 GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id, MIN(epoch_us(ts)) AS t3
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND epoch_us(ts) >= t2
      |    AND epoch_us(ts) <= t2 + 604800000000 GROUP BY 1),
      |steps AS (
      |  SELECT '1_signup' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
      |  UNION ALL
      |  SELECT '2_view_7d', CAST(COUNT(*) AS BIGINT) FROM s2
      |  UNION ALL
      |  SELECT '3_purchase_7d', CAST(COUNT(*) AS BIGINT) FROM s3)
      |SELECT step, n_users,
      |  CAST(n_users * 1000000 // FIRST(n_users) OVER (ORDER BY step
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS BIGINT) AS conv_from_first_ppm
      |FROM steps
      |ORDER BY step""".stripMargin

  // --- q344: contiguous row-pattern match A B* C with capture ---------------
  // The pattern the step-funnel family CANNOT express: strict contiguity
  // — a signup followed by zero or more views and then a purchase with
  // NO other event type in between (any interloper kills the match), one
  // row per user for the FIRST such match, capturing the view count, the
  // span, and the purchase amount off the end row. This is the
  // MATCH_RECOGNIZE(PATTERN (A B* C)) shape, compiled by
  // operators/SeqPattern.firstContiguousMatch to ONE window pass: the
  // earliest following non-view row rides a struct-ordered MIN over an
  // unbounded-following frame (rn leads the struct, captures trail), so
  // the whole match costs two window functions on one user_id
  // partitioning — no self-join, no per-length scan. Cents ride the
  // exact decimal(18,2)·100 grid; the oracle restates the same match
  // with a rn-join (same rows, join instead of struct — proving the
  // struct-min trick against a plain relational restatement).
  def q344(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.operators.SeqPattern.firstContiguousMatch(Tables.events(s, d),
        "user_id", "ts", "event_id",
        aPred = $"event_type" === "signup",
        bPred = $"event_type" === "view",
        cPred = $"event_type" === "purchase",
        captures = Seq("cents" ->
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")))
      .select($"user_id", $"n_mid".cast("long").as("n_views"),
        expr("(c_ord - a_ord) div 1000000000").as("span_s"),
        $"cents".as("purchase_cents"))
      .orderBy($"user_id")
  }
  val q344Sql: String =
    """WITH o AS (
      |  SELECT user_id, event_type, value, epoch_ns(ts) AS tns,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |nxt AS (
      |  SELECT user_id, event_type, tns, rn,
      |    MIN(CASE WHEN event_type <> 'view' THEN rn END)
      |      OVER (PARTITION BY user_id ORDER BY rn
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nrn
      |  FROM o),
      |m AS (
      |  SELECT n.user_id, n.tns AS a_ord, n.rn, n.nrn, o.tns AS c_ord,
      |    CAST(CAST(o.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM nxt n JOIN o ON o.user_id = n.user_id AND o.rn = n.nrn
      |  WHERE n.event_type = 'signup' AND o.event_type = 'purchase'),
      |f AS (
      |  SELECT user_id, a_ord, c_ord, nrn - rn - 1 AS n_views, cents,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS mrn
      |  FROM m)
      |SELECT user_id, CAST(n_views AS BIGINT) AS n_views,
      |  (c_ord - a_ord) // 1000000000 AS span_s,
      |  cents AS purchase_cents
      |FROM f WHERE mrn = 1
      |ORDER BY user_id""".stripMargin

  // --- q350: ALL contiguous pattern matches (AFTER MATCH SKIP TO NEXT ROW) --
  // q344 returns each user's first match; real session analytics wants
  // EVERY one — how often does the clean signup→views→purchase run
  // recur, and does it speed up? SeqPattern.contiguousMatches emits all
  // matches numbered in stream order (they provably cannot overlap: a
  // second start row inside a span would be the span's first non-filler
  // row and kill it — so "all starts" IS the SKIP TO NEXT ROW
  // semantics), same one-pass window compilation. The oracle is q344's
  // restatement with the first-match filter dropped and the ordinal
  // carried through.
  def q350(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.operators.SeqPattern.contiguousMatches(Tables.events(s, d),
        "user_id", "ts", "event_id",
        aPred = $"event_type" === "signup",
        bPred = $"event_type" === "view",
        cPred = $"event_type" === "purchase",
        captures = Seq("cents" ->
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")))
      .select($"user_id", $"match_no".cast("long").as("match_no"),
        $"n_mid".cast("long").as("n_views"),
        expr("(c_ord - a_ord) div 1000000000").as("span_s"),
        $"cents".as("purchase_cents"))
      .orderBy($"user_id", $"match_no")
  }
  val q350Sql: String =
    """WITH o AS (
      |  SELECT user_id, event_type, value, epoch_ns(ts) AS tns,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |nxt AS (
      |  SELECT user_id, event_type, tns, rn,
      |    MIN(CASE WHEN event_type <> 'view' THEN rn END)
      |      OVER (PARTITION BY user_id ORDER BY rn
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nrn
      |  FROM o),
      |m AS (
      |  SELECT n.user_id, n.tns AS a_ord, n.rn, n.nrn, o.tns AS c_ord,
      |    CAST(CAST(o.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM nxt n JOIN o ON o.user_id = n.user_id AND o.rn = n.nrn
      |  WHERE n.event_type = 'signup' AND o.event_type = 'purchase')
      |SELECT user_id,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS match_no,
      |  CAST(nrn - rn - 1 AS BIGINT) AS n_views,
      |  (c_ord - a_ord) // 1000000000 AS span_s,
      |  cents AS purchase_cents
      |FROM m
      |ORDER BY user_id, match_no""".stripMargin

  // --- q299: time-to-convert percentiles (mergeable delay histogram) --------
  // q58 finds the view→purchase pairs; the product question is HOW FAST —
  // p50/p90/p99 of the conversion delay, sliced by the view's weekday.
  // The delay lives on a bounded integer grid by construction (0..3600
  // seconds — the join window), so this is exactly the q276 mergeable-
  // histogram architecture: the join's output collapses map-side to
  // ≤7×3601 cells and percentiles come from grid cumsums; at 100 TB the
  // shuffle carries the grid, never the pairs. Type-1 percentiles in
  // integer arithmetic throughout.
  def q299(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val v = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("v_ns"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ns"))
    val hist = v.join(p, "user_id")
      .filter($"p_ns" >= $"v_ns" && $"p_ns" <= $"v_ns" + 3600L * 1000000000L)
      .select(expr("((v_ns div 1000000000) div 86400 + 4) % 7").as("dow"),
        expr("(p_ns - v_ns) div 1000000000").as("delta_s"))
      .groupBy($"dow", $"delta_s").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy($"dow").orderBy($"delta_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"dow")
    hist
      .withColumn("cum", sum($"cnt").over(wCum))
      .withColumn("n_pairs", sum($"cnt").over(wAll))
      .groupBy($"dow", $"n_pairs")
      .agg(
        min(when($"cum" >= expr("(n_pairs + 1) div 2"), $"delta_s")).as("p50_s"),
        min(when($"cum" >= expr("(9 * n_pairs + 9) div 10"), $"delta_s")).as("p90_s"),
        min(when($"cum" >= expr("(99 * n_pairs + 99) div 100"), $"delta_s")).as("p99_s"))
      .orderBy($"dow")
  }
  val q299Sql: String =
    """WITH v AS (
      |  SELECT user_id, epoch_us(ts) AS vus FROM events
      |  WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, epoch_us(ts) AS pus FROM events
      |  WHERE event_type = 'purchase'),
      |hist AS (
      |  SELECT (vus // 1000000 // 86400 + 4) % 7 AS dow,
      |    (pus - vus) // 1000000 AS delta_s, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM v JOIN p USING (user_id)
      |  WHERE pus >= vus AND pus <= vus + 3600000000
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT dow, delta_s,
      |    SUM(cnt) OVER (PARTITION BY dow ORDER BY delta_s) AS cum,
      |    SUM(cnt) OVER (PARTITION BY dow) AS n_pairs
      |  FROM hist)
      |SELECT CAST(dow AS BIGINT) AS dow, CAST(n_pairs AS BIGINT) AS n_pairs,
      |  MIN(CASE WHEN cum >= (n_pairs + 1) // 2 THEN delta_s END) AS p50_s,
      |  MIN(CASE WHEN cum >= (9 * n_pairs + 9) // 10 THEN delta_s END) AS p90_s,
      |  MIN(CASE WHEN cum >= (99 * n_pairs + 99) // 100 THEN delta_s END) AS p99_s
      |FROM cum GROUP BY dow, n_pairs
      |ORDER BY dow""".stripMargin

  // --- q300: machine-regularity (bot-likeness) screen ------------------------
  // The traffic-quality twin of q273's Fano factor, read per USER instead
  // of per feed: humans emit events with jitter; scripts fire on a fixed
  // clock. A user is bot-like when they are active (≥10 events of a type)
  // and their inter-event gaps are all within one second of each other
  // (max_gap − min_gap < 1e9 ns — a pure integer inequality on exact ns
  // gaps; no float threshold). Reported per type: active users, bot-like
  // users, and the ppm rate. One per-user lag window + one type-keyed
  // aggregation.
  def q300(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type", $"user_id")
      .orderBy($"ts", $"event_id")
    val gaps = Tables.events(s, d)
      .select($"event_type", $"user_id", $"ts", $"event_id")
      .withColumn("gap", $"ts" - lag($"ts", 1).over(w))
      .groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("n"), min($"gap").as("g0"), max($"gap").as("g1"))
      .filter($"n" >= 10)
    gaps.groupBy($"event_type")
      .agg(count(lit(1)).as("n_active"),
        sum(when($"g1" - $"g0" < 1000000000L, 1L).otherwise(0L)).as("n_bot_like"))
      .select($"event_type", $"n_active", $"n_bot_like",
        expr("n_bot_like * 1000000 div n_active").cast("long").as("bot_ppm"))
      .orderBy($"event_type")
  }
  val q300Sql: String =
    """WITH g AS (
      |  SELECT event_type, user_id,
      |    epoch_us(ts) * 1000 - LAG(epoch_us(ts) * 1000) OVER (
      |      PARTITION BY event_type, user_id
      |      ORDER BY epoch_us(ts), event_id) AS gap
      |  FROM events),
      |u AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n,
      |    MIN(gap) AS g0, MAX(gap) AS g1
      |  FROM g GROUP BY 1, 2 HAVING COUNT(*) >= 10)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_active,
      |  CAST(SUM(CASE WHEN g1 - g0 < 1000000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bot_like,
      |  CAST(SUM(CASE WHEN g1 - g0 < 1000000000 THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS bot_ppm
      |FROM u GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q301: lagged cross-correlation of daily revenue series ----------------
  // Does view revenue LEAD purchase revenue? Pearson correlation between
  // the two daily cents series at lags −3..+3 days (the lead-lag scan
  // behind every "which metric moves first" question). Series are dense
  // over the joint span (missing days are real zeros — the q273
  // grid rule); all five moment sums are exact decimal/HUGEINT integers
  // per lag, collapsed to ONE double chain (the q74 convention) snapped
  // at 1e-6. Work: two grid-sized series, a 7-lag band join on day —
  // lag-count × span rows, never events².
  def q301(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val daily = Tables.events(s, d)
      .filter($"event_type".isin("view", "purchase"))
      .groupBy($"event_type",
        expr("(ts div 1000000000) div 86400").as("day"))
      .agg(sum(($"value".cast("decimal(18,2)") * 100).cast("long")).as("c"))
    val span = daily.agg(min($"day").as("d0"), max($"day").as("d1"))
    def dense(t: String) = daily.filter($"event_type" === t)
      .select($"day", $"c")
      .unionByName(span.select(explode(expr("sequence(d0, d1)")).as("day"),
        lit(0L).as("c")))
      .groupBy($"day").agg(sum($"c").as("c"))
    val x = dense("view").select($"day", $"c".as("x")).persistTracked()
    val y = dense("purchase").select($"day".as("yday"), $"c".as("y"))
      .persistTracked()
    val lags = Seq(-3L, -2L, -1L, 0L, 1L, 2L, 3L).toDF("lag")
    x.crossJoin(broadcast(lags))
      .join(y, $"day" + $"lag" === $"yday")
      .groupBy($"lag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"x".cast("decimal(38,0)")).cast("double").as("sx"),
        sum($"y".cast("decimal(38,0)")).cast("double").as("sy"),
        sum($"x".cast("decimal(38,0)") * $"y").cast("double").as("sxy"),
        sum($"x".cast("decimal(38,0)") * $"x").cast("double").as("sxx"),
        sum($"y".cast("decimal(38,0)") * $"y").cast("double").as("syy"))
      .select($"lag", $"n".cast("long").as("n_days"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy")), 6)
          .as("xcorr"))
      .orderBy($"lag")
  }
  val q301Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
      |grid AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM span),
      |x AS (
      |  SELECT grid.day, COALESCE(c, 0) AS x FROM grid
      |  LEFT JOIN (SELECT day, c FROM daily WHERE event_type = 'view') v
      |  USING (day)),
      |y AS (
      |  SELECT grid.day, COALESCE(c, 0) AS y FROM grid
      |  LEFT JOIN (SELECT day, c FROM daily WHERE event_type = 'purchase') p
      |  USING (day)),
      |m AS (
      |  SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      |  FROM x
      |  CROSS JOIN (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag) l
      |  JOIN y ON x.day + lag = y.day
      |  GROUP BY lag)
      |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
      |  ROUND((n * sxy - sx * sy)
      |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS xcorr
      |FROM m
      |ORDER BY lag""".stripMargin

  // --- q303: capped sessionization (gap rule + max-duration split) -----------
  // q27's 30-minute-gap sessionizer with the production rule it omits: a
  // session also ENDS at 4 hours from its start (analytics vendors cap
  // sessions so a forgotten tab is not one infinite visit). Declarative
  // two-phase: the gap pass assigns session_id (q27 verbatim), then a
  // per-session start anchors sub_idx = (t − start) div 4h — a pure
  // integer split, no iterative reassignment. Same window shuffles as
  // q27 plus one session-keyed min.
  def q303(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wSess = Window.partitionBy($"user_id", $"session_id")
    withDerived(Tables.events(s, d))
      .withColumn("new_session",
        when(($"epoch_s" - lag($"epoch_s", 1).over(wOrd)) > 1800 ||
          lag($"epoch_s", 1).over(wOrd).isNull, 1).otherwise(0))
      .withColumn("session_id",
        sum($"new_session").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("sess_start", min($"epoch_s").over(wSess))
      .withColumn("sub_idx", expr("(epoch_s - sess_start) div 14400"))
      .groupBy($"user_id", $"session_id", $"sub_idx")
      .agg(count(lit(1)).as("n_events"),
        fmtS(min($"epoch_s")).as("part_start"),
        (max($"epoch_s") - min($"epoch_s")).as("duration_s"))
      .orderBy($"user_id", $"session_id", $"sub_idx")
  }
  val q303Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
      |    CASE WHEN CAST(epoch(date_trunc('second', ts)) AS BIGINT)
      |           - LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) OVER w > 1800
      |           OR LAG(ts) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |), capped AS (
      |  SELECT *, (epoch_s - MIN(epoch_s) OVER (PARTITION BY user_id, session_id))
      |    // 14400 AS sub_idx
      |  FROM sessions
      |)
      |SELECT user_id, session_id, CAST(sub_idx AS BIGINT) AS sub_idx,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  strftime(to_timestamp(MIN(epoch_s)), '%Y-%m-%d %H:%M:%S') AS part_start,
      |  CAST(MAX(epoch_s) - MIN(epoch_s) AS BIGINT) AS duration_s
      |FROM capped GROUP BY user_id, session_id, sub_idx
      |ORDER BY user_id, session_id, sub_idx""".stripMargin

  // --- q304: weekly top movers (largest week-over-week revenue swings) -------
  // The "what changed" screen on the weekly rollup: per event type, the
  // week-over-week cents delta, ranked by absolute swing — the entry
  // point of every metrics-triage runbook. Exact integer deltas from the
  // weekly cents grid; one lag window over a types×weeks frame; the
  // ranking key (|delta| desc, week, type) is fully deterministic.
  def q304(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"week")
    Tables.events(s, d)
      .groupBy($"event_type",
        expr("((ts div 1000000000) div 86400) div 7").as("week"))
      .agg(sum(($"value".cast("decimal(18,2)") * 100).cast("long")).as("c"))
      .withColumn("prev_c", lag($"c", 1).over(w))
      .filter($"prev_c".isNotNull)
      .select($"event_type", $"week", $"c", $"prev_c",
        ($"c" - $"prev_c").as("delta_c"))
      .orderBy(abs($"delta_c").desc, $"week", $"event_type")
      .limit(10)
  }
  val q304Sql: String =
    """WITH weekly AS (
      |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 // 7 AS week,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type, week, c,
      |    LAG(c) OVER (PARTITION BY event_type ORDER BY week) AS prev_c
      |  FROM weekly)
      |SELECT event_type, week, c, prev_c, c - prev_c AS delta_c
      |FROM lagged WHERE prev_c IS NOT NULL
      |ORDER BY ABS(c - prev_c) DESC, week, event_type
      |LIMIT 10""".stripMargin

  // --- q317: maximum drawdown per instrument (peak-to-trough) --------------
  // The risk metric every crypto dashboard pairs with q159's candlesticks:
  // per event type, the largest peak-to-trough decline of the DAILY CLOSE
  // series. Close = struct-ordered max per (type, day) — one key-bounded
  // shuffle, no window over raw events (q159's zero-window lesson); the
  // running peak and the argmax run over the day-level series, which is
  // bounded by the calendar (30 days here, ~thousands at any corpus size),
  // so the per-type window is scale-safe by construction. dd_ppm is exact
  // integer arithmetic on the 1e-2 price grid through the decimal(38,0)
  // route; ties on the max drawdown break to the EARLIEST trough day.
  def q317(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"ts", $"event_id",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"),
      expr("(ts div 1000000000) div 86400").as("day"))
    val close = ev.groupBy($"event_type", $"day")
      .agg(max(struct($"ts", $"event_id", $"v")).getField("v").as("c"))
    val wPk = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = close.withColumn("peak", max($"c").over(wPk))
      .withColumn("dd_ppm", when($"peak" > 0, expr(
        "cast(cast(peak - c as decimal(38,0)) * 1000000 div peak as bigint)"))
        .otherwise(lit(0L)))
    val wR = Window.partitionBy($"event_type").orderBy($"dd_ppm".desc, $"day")
    dd.withColumn("rn", row_number().over(wR)).filter($"rn" === 1)
      .select($"event_type", $"day".as("trough_day"),
        $"dd_ppm".as("max_dd_ppm"),
        ($"peak".cast("double") / 100).as("peak_px"),
        ($"c".cast("double") / 100).as("trough_px"))
      .orderBy($"event_type")
  }
  val q317Sql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS tus, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    epoch_us(ts) // 1000000 // 86400 AS day
      |  FROM events),
      |close AS (
      |  SELECT event_type, day, v AS c FROM (
      |    SELECT event_type, day, v,
      |      ROW_NUMBER() OVER (PARTITION BY event_type, day
      |        ORDER BY tus DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |pk AS (
      |  SELECT event_type, day, c,
      |    MAX(c) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM close),
      |dd AS (
      |  SELECT event_type, day, c, peak,
      |    CASE WHEN peak > 0
      |      THEN CAST(CAST(peak - c AS HUGEINT) * 1000000 // peak AS BIGINT)
      |      ELSE 0 END AS dd_ppm
      |  FROM pk),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY dd_ppm DESC, day) AS rn FROM dd)
      |SELECT event_type, day AS trough_day, dd_ppm AS max_dd_ppm,
      |  CAST(peak AS DOUBLE) / 100 AS peak_px,
      |  CAST(c AS DOUBLE) / 100 AS trough_px
      |FROM r WHERE rn = 1
      |ORDER BY event_type""".stripMargin

  // --- q318: technical indicators — 14-day RSI + 20-day Bollinger bands ----
  // The chart-overlay indicators over q317's daily-close series. RSI uses
  // the single-division identity 100·Σgain/(Σgain+Σloss) — algebraically
  // the classic 100−100/(1+RS) with SMA averages, but ONE exact integer
  // division on the cent grid (rsi_e6 through decimal(38,0)), no IEEE
  // chain. Bollinger: Σc and Σc² window sums are exact integers, the
  // 20-sample variance (20·Σc²−(Σc)²)/400 is an exact-integer numerator,
  // and sqrt is IEEE-exact (correctly-rounded by spec, unlike pow/ln), so
  // both engines compute bit-identical bands before the one 1e-6 snap.
  // Day-level windows over the calendar-bounded close series — scale-safe
  // (the raw corpus reduces in the close aggregation first).
  def q318(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    val ev = Tables.events(s, d).select($"event_type", $"ts", $"event_id",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"),
      expr("(ts div 1000000000) div 86400").as("day"))
    val close = ev.groupBy($"event_type", $"day")
      .agg(max(struct($"ts", $"event_id", $"v")).getField("v").as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val w14 = w.rowsBetween(-13, 0)
    val w20 = w.rowsBetween(-19, 0)
    close
      .withColumn("diff", $"c" - lag($"c", 1).over(w))
      .withColumn("gain", greatest($"diff", lit(0L)))
      .withColumn("loss", greatest(-$"diff", lit(0L)))
      .withColumn("rn", row_number().over(w))
      .withColumn("sg", sum($"gain").over(w14))
      .withColumn("sl", sum($"loss").over(w14))
      .withColumn("sc", sum($"c").over(w20))
      .withColumn("sc2", sum($"c".cast(big) * $"c".cast(big)).over(w20))
      .filter($"rn" >= 20)
      .withColumn("rsi_e6", when($"sg" + $"sl" === 0, lit(null).cast("long"))
        .otherwise(expr(
          "cast(cast(sg as decimal(38,0)) * 100000000 div (sg + sl) as bigint)")))
      .withColumn("mid_raw", $"sc".cast("double") / 2000)
      .withColumn("sd_px", sqrt(expr(
        "cast(sc2 * 20 - cast(sc as decimal(38,0)) * sc as double) / 400")) / 100)
      .select($"event_type", $"day",
        ($"c".cast("double") / 100).as("close_px"),
        ($"rsi_e6".cast("double") / 1e6).as("rsi"),
        (round($"mid_raw" * 1e6).cast("long").cast("double") / 1e6).as("boll_mid"),
        (round(($"mid_raw" + $"sd_px" * 2) * 1e6).cast("long").cast("double") / 1e6)
          .as("boll_up"),
        (round(($"mid_raw" - $"sd_px" * 2) * 1e6).cast("long").cast("double") / 1e6)
          .as("boll_dn"))
      .orderBy($"event_type", $"day")
  }
  val q318Sql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS tus, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    epoch_us(ts) // 1000000 // 86400 AS day
      |  FROM events),
      |close AS (
      |  SELECT event_type, day, v AS c FROM (
      |    SELECT event_type, day, v,
      |      ROW_NUMBER() OVER (PARTITION BY event_type, day
      |        ORDER BY tus DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |ind AS (
      |  SELECT event_type, day, c,
      |    greatest(c - LAG(c) OVER w, 0) AS gain,
      |    greatest(LAG(c) OVER w - c, 0) AS loss,
      |    ROW_NUMBER() OVER w AS rn
      |  FROM close
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |roll AS (
      |  SELECT event_type, day, c, rn,
      |    SUM(gain) OVER w14 AS sg, SUM(loss) OVER w14 AS sl,
      |    SUM(c) OVER w20 AS sc,
      |    SUM(CAST(c AS HUGEINT) * c) OVER w20 AS sc2
      |  FROM ind
      |  WINDOW
      |    w14 AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
      |    w20 AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      |calc AS (
      |  SELECT event_type, day, c, sg, sl,
      |    CAST(sc AS DOUBLE) / 2000 AS mid_raw,
      |    sqrt(CAST(sc2 * 20 - CAST(sc AS HUGEINT) * sc AS DOUBLE) / 400) / 100
      |      AS sd_px,
      |    CASE WHEN sg + sl = 0 THEN NULL
      |      ELSE CAST(CAST(sg AS HUGEINT) * 100000000 // (sg + sl) AS BIGINT)
      |    END AS rsi_e6
      |  FROM roll WHERE rn >= 20)
      |SELECT event_type, day,
      |  CAST(c AS DOUBLE) / 100 AS close_px,
      |  CAST(rsi_e6 AS DOUBLE) / 1e6 AS rsi,
      |  CAST(CAST(round(mid_raw * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS boll_mid,
      |  CAST(CAST(round((mid_raw + sd_px * 2) * 1e6) AS BIGINT) AS DOUBLE) / 1e6
      |    AS boll_up,
      |  CAST(CAST(round((mid_raw - sd_px * 2) * 1e6) AS BIGINT) AS DOUBLE) / 1e6
      |    AS boll_dn
      |FROM calc
      |ORDER BY event_type, day""".stripMargin

  // --- q319: change-point by binary segmentation (between-variance split) --
  // The complement to q156's CUSUM location estimate: the FIRST step of
  // binary segmentation picks the split k of the daily-volume series that
  // maximizes the between-segment SSE reduction
  // gain(k) = (m1−m2)²·n1·n2/n. The prefix sums are exact integers; the
  // gain is evaluated in ONE fixed IEEE op order stated identically in
  // both engines (the q154 rule — the cross-products exceed no grid, and
  // identical double inputs + identical op order ⇒ identical doubles), so
  // the argmax is engine-deterministic, ties to the earliest day. The
  // series is a day-level aggregate — the corpus reduces in one
  // partial+final count before any window touches it.
  def q319(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byDay = Tables.events(s, d)
      .groupBy(expr("(ts div 1000000000) div 86400").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val wC = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = byDay
      .withColumn("s1", sum($"cnt").over(wC))
      .withColumn("k", row_number().over(Window.orderBy($"day")))
    val tot = byDay.agg(sum($"cnt").as("s"), count(lit(1)).as("n"))
    val cand = pre.crossJoin(broadcast(tot)).filter($"k" < $"n")
      .withColumn("dm", $"s1".cast("double") / $"k"
        - ($"s" - $"s1").cast("double") / ($"n" - $"k"))
      .withColumn("gain", $"dm" * $"dm" * $"k" * ($"n" - $"k") / $"n")
    val wR = Window.orderBy($"gain".desc, $"day")
    cand.withColumn("rn", row_number().over(wR)).filter($"rn" === 1)
      .select($"day".as("split_day"), $"k".as("n_before"),
        ($"n" - $"k").as("n_after"),
        (round(($"s1".cast("double") / $"k") * 1e6).cast("long")
          .cast("double") / 1e6).as("mean_before"),
        (round((($"s" - $"s1").cast("double") / ($"n" - $"k")) * 1e6)
          .cast("long").cast("double") / 1e6).as("mean_after"),
        (round($"gain" * 1e6).cast("long").cast("double") / 1e6).as("gain"))
  }
  val q319Sql: String =
    """WITH byday AS (
      |  SELECT epoch_us(ts) // 1000000 // 86400 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |pre AS (
      |  SELECT day, cnt,
      |    CAST(SUM(cnt) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1,
      |    ROW_NUMBER() OVER (ORDER BY day) AS k
      |  FROM byday),
      |tot AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM byday),
      |cand AS (
      |  SELECT day, k, n, s1, s,
      |    CAST(s1 AS DOUBLE) / k - CAST(s - s1 AS DOUBLE) / (n - k) AS dm
      |  FROM pre CROSS JOIN tot WHERE k < n),
      |gains AS (
      |  SELECT day, k, n, s1, s, dm * dm * k * (n - k) / n AS gain FROM cand),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY gain DESC, day) AS rn FROM gains)
      |SELECT day AS split_day, k AS n_before, n - k AS n_after,
      |  CAST(CAST(round(CAST(s1 AS DOUBLE) / k * 1e6) AS BIGINT) AS DOUBLE) / 1e6
      |    AS mean_before,
      |  CAST(CAST(round(CAST(s - s1 AS DOUBLE) / (n - k) * 1e6) AS BIGINT) AS DOUBLE) / 1e6
      |    AS mean_after,
      |  CAST(CAST(round(gain * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS gain
      |FROM r WHERE rn = 1""".stripMargin

  // --- q327: q159's OHLC candlesticks THROUGH the streaming engine ---------
  // The reference's dashboard aggregate as a live stream (the q34/q24
  // twin-proof pattern): events replay as a file stream, Streams.ohlcBars
  // aggregates watermarked hourly candles with struct-ordered open/close
  // and exact-decimal VWAP, the AvailableNow drain lands in a memory
  // sink, and the sink hash-matches the SAME DuckDB SQL as batch q159.
  // Complete mode keeps every window; within one backlog nothing is late.
  def q327(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bars = graft.streaming.Streams.ohlcBars(
      graft.streaming.Streams.eventsStream(s, d))
    // Complete-mode drain — skip the no-op trailing batch (the q34 rule)
    graft.streaming.Streams.runToMemory(s, bars, "q327_sink",
      noDataBatch = false)
      .orderBy($"event_type", $"hour_start")
  }
  val q327Sql: String = q159Sql

  // --- q332: time-RANGE sliding frames (rolling 1h over irregular events) --
  // The window shape q17/q26 do not cover: a PER-EVENT trailing-hour
  // aggregate via RANGE frames over the raw ns timeline (no bucket
  // snapping, no interval self-join). The house scale rule forbids the
  // naive per-type event-level window (5 partition keys = 5 straggler
  // tasks at 100 TB), so the frames run inside (type, DAY) slices with a
  // carry: each day's last-hour rows replay into the NEXT day's slice
  // (flagged, frame members only, filtered from output) — any trailing-1h
  // frame then lives entirely inside one slice, so the sliced windows
  // equal the global one exactly (the q158 boundary trick, RANGE form).
  // Parallelism ∝ types × days; carry volume ∝ one hour of traffic.
  // The oracle states the SEMANTICS — the plain global RANGE window.
  def q332(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val DAY = 86400L * 1000000000L
    val HR = 3600L * 1000000000L
    val ev = Tables.events(s, d).select($"event_type", $"ts", $"event_id",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"),
      expr("(ts div 1000000000) div 86400").as("slice"))
    val own = ev.withColumn("carry", lit(0))
    val carry = ev.filter($"ts" % DAY >= DAY - HR)
      .withColumn("slice", $"slice" + 1)
      .withColumn("carry", lit(1))
    val w = Window.partitionBy($"event_type", $"slice").orderBy($"ts")
      .rangeBetween(-HR, 0)
    own.unionByName(carry)
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("s_1h", sum($"v").over(w))
      .filter($"carry" === 0)
      .select($"event_id", $"event_type",
        fmtS(expr("ts div 1000000000")).as("ts_s"),
        $"n_1h", ($"s_1h".cast("double") / 100).as("sum_1h"))
      .orderBy($"event_type", $"event_id")
  }
  val q332Sql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type, epoch_us(ts) * 1000 AS tns,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events)
      |SELECT event_id, event_type,
      |  strftime(make_timestamp((tns // 1000000000) * 1000000),
      |    '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
      |  CAST(CAST(SUM(v) OVER w AS BIGINT) AS DOUBLE) / 100 AS sum_1h
      |FROM ev
      |WINDOW w AS (PARTITION BY event_type ORDER BY tns
      |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, event_id""".stripMargin

  // --- q336: partition-completeness audit (missing-partition fill plan) ----
  // The lakehouse ingestion audit q33/q127 don't cover: against the
  // expected (instrument × hour) calendar grid — spanned by the GLOBAL
  // min/max hour, generated with sequence(), never scanned — which
  // partitions actually landed? Output per instrument: expected/present/
  // missing counts plus the first and last missing hour (the backfill
  // window a scheduler would replay). The corpus reduces to the distinct
  // present grid in one aggregation; the calendar join is grid-sized.
  def q336(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val present = Tables.events(s, d)
      .select($"event_type", expr("(ts div 1000000000) div 3600").as("hr"))
      .distinct()
      .persistTracked() // bounds + types + the presence join
    val bounds = present.agg(min($"hr").as("h0"), max($"hr").as("h1"))
    val grid = present.select($"event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select($"event_type", explode(expr("sequence(h0, h1)")).as("hr"))
    grid.join(present.withColumn("p", lit(1)), Seq("event_type", "hr"), "left")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("expected_hours"),
        sum(coalesce($"p", lit(0))).as("present_hours"),
        sum(when($"p".isNull, 1L).otherwise(0L)).as("missing_hours"),
        min(when($"p".isNull, $"hr")).as("first_missing_hr"),
        max(when($"p".isNull, $"hr")).as("last_missing_hr"))
      .orderBy($"event_type")
  }
  val q336Sql: String =
    """WITH present AS (
      |  SELECT DISTINCT event_type, epoch_us(ts) // 1000000 // 3600 AS hr
      |  FROM events),
      |bounds AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM present),
      |grid AS (
      |  SELECT t.event_type, g.hr
      |  FROM (SELECT DISTINCT event_type FROM present) t,
      |    bounds, unnest(range(h0, h1 + 1)) AS g(hr))
      |SELECT grid.event_type,
      |  CAST(COUNT(*) AS BIGINT) AS expected_hours,
      |  CAST(SUM(CASE WHEN p.hr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS present_hours,
      |  CAST(SUM(CASE WHEN p.hr IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS missing_hours,
      |  MIN(CASE WHEN p.hr IS NULL THEN grid.hr END) AS first_missing_hr,
      |  MAX(CASE WHEN p.hr IS NULL THEN grid.hr END) AS last_missing_hr
      |FROM grid LEFT JOIN present p
      |  ON grid.event_type = p.event_type AND grid.hr = p.hr
      |GROUP BY grid.event_type
      |ORDER BY grid.event_type""".stripMargin

  // --- q330: historical VaR + return volatility per instrument -------------
  // The risk pair to q317's drawdown: daily simple returns on the 1-ppm
  // integer grid (one round of a <2^52-magnitude double — the snap is
  // engine-safe because every mathematically-possible tie is an exactly
  // representable x.5, where HALF_UP and round-half-away agree), then
  // (a) 95% historical VaR = the ceil(n/20)-th smallest return — a pure
  // order statistic, exact integers (k via (n+19) div 20, no float ceil) —
  // and (b) sample volatility from exact integer Σr/Σr² (the decimal
  // route; the variance numerator casts to double identically in both
  // engines, then one IEEE-exact sqrt). prev>0 guards zero-price days.
  // Day-level series, corpus reduced first (the q317/q318 shape).
  def q330(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"ts", $"event_id",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"),
      expr("(ts div 1000000000) div 86400").as("day"))
    val close = ev.groupBy($"event_type", $"day")
      .agg(max(struct($"ts", $"event_id", $"v")).getField("v").as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val rets = close.withColumn("prev", lag($"c", 1).over(w))
      .filter($"prev".isNotNull && $"prev" > 0)
      .withColumn("r_ppm",
        round(($"c" - $"prev").cast("double") * 1e6 / $"prev").cast("long"))
    val wA = Window.partitionBy($"event_type").orderBy($"r_ppm", $"day")
    val ranked = rets.withColumn("rn", row_number().over(wA))
    val stats = rets.groupBy($"event_type").agg(
      count(lit(1)).as("n_rets"),
      sum($"r_ppm").as("sr"),
      sum($"r_ppm".cast("decimal(38,0)") * $"r_ppm".cast("decimal(38,0)"))
        .as("sr2"))
    val var95 = ranked.join(stats, Seq("event_type"))
      .filter($"rn" === expr("(n_rets + 19) div 20"))
      .select($"event_type", $"r_ppm".as("var95_ppm"))
    stats.join(var95, Seq("event_type"))
      .select($"event_type", $"n_rets",
        round($"sr".cast("double") / $"n_rets").cast("long").as("mean_ret_ppm"),
        $"var95_ppm",
        when($"n_rets" >= 2,
          round(sqrt(($"sr2" * $"n_rets" - $"sr".cast("decimal(38,0)") * $"sr")
            .cast("double") / ($"n_rets" * ($"n_rets" - 1)))).cast("long"))
          .otherwise(lit(null).cast("long")).as("vol_ppm"))
      .orderBy($"event_type")
  }
  val q330Sql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS tus, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    epoch_us(ts) // 1000000 // 86400 AS day
      |  FROM events),
      |close AS (
      |  SELECT event_type, day, v AS c FROM (
      |    SELECT event_type, day, v,
      |      ROW_NUMBER() OVER (PARTITION BY event_type, day
      |        ORDER BY tus DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |rets AS (
      |  SELECT event_type, day, c,
      |    LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS prev
      |  FROM close),
      |rr AS (
      |  SELECT event_type, day,
      |    CAST(round(CAST(c - prev AS DOUBLE) * 1e6 / prev) AS BIGINT) AS r_ppm
      |  FROM rets WHERE prev IS NOT NULL AND prev > 0),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY r_ppm, day) AS rn FROM rr),
      |stats AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rets,
      |    CAST(SUM(r_ppm) AS BIGINT) AS sr,
      |    SUM(CAST(r_ppm AS HUGEINT) * r_ppm) AS sr2
      |  FROM rr GROUP BY 1),
      |v95 AS (
      |  SELECT ranked.event_type, r_ppm AS var95_ppm
      |  FROM ranked JOIN stats USING (event_type)
      |  WHERE rn = (n_rets + 19) // 20)
      |SELECT event_type, n_rets,
      |  CAST(round(CAST(sr AS DOUBLE) / n_rets) AS BIGINT) AS mean_ret_ppm,
      |  var95_ppm,
      |  CASE WHEN n_rets >= 2 THEN
      |    CAST(round(sqrt(CAST(sr2 * n_rets - CAST(sr AS HUGEINT) * sr AS DOUBLE)
      |      / (n_rets * (n_rets - 1)))) AS BIGINT)
      |  ELSE NULL END AS vol_ppm
      |FROM stats JOIN v95 USING (event_type)
      |ORDER BY event_type""".stripMargin

  // --- q325: on-balance volume (signed-volume accumulation) ----------------
  // The volume-flow indicator next to q317/q318: per instrument,
  // OBV_d = Σ_{d'≤d} sign(Δclose)·volume with volume from the props JSON
  // (q159's field). Daily close is the struct-ordered max (zero windows
  // over raw events); the signed-volume series and its running sum are
  // exact long arithmetic over the calendar-bounded daily table, so every
  // value hash-matches without snapping. One key-bounded shuffle reduces
  // the corpus; everything after is day-level.
  def q325(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"ts", $"event_id",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"),
      get_json_object($"props", "$.k").cast("long").as("k"),
      expr("(ts div 1000000000) div 86400").as("day"))
    val daily = ev.groupBy($"event_type", $"day")
      .agg(max(struct($"ts", $"event_id", $"v")).getField("v").as("c"),
        sum($"k").as("vol"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val wC = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("diff", $"c" - lag($"c", 1).over(w))
      .withColumn("sv", when($"diff" > 0, $"vol")
        .when($"diff" < 0, -$"vol").otherwise(lit(0L)))
      .withColumn("obv", sum($"sv").over(wC))
      .select($"event_type", $"day",
        ($"c".cast("double") / 100).as("close_px"), $"vol", $"obv")
      .orderBy($"event_type", $"day")
  }
  val q325Sql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS tus, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |    epoch_us(ts) // 1000000 // 86400 AS day
      |  FROM events),
      |daily AS (
      |  SELECT event_type, day,
      |    MAX(CASE WHEN rn = 1 THEN v END) AS c,
      |    CAST(SUM(k) AS BIGINT) AS vol
      |  FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, day
      |      ORDER BY tus DESC, event_id DESC) AS rn
      |    FROM ev)
      |  GROUP BY 1, 2),
      |sv AS (
      |  SELECT event_type, day, c, vol,
      |    CASE WHEN c - LAG(c) OVER w > 0 THEN vol
      |         WHEN c - LAG(c) OVER w < 0 THEN -vol
      |         ELSE 0 END AS sv
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, day, CAST(c AS DOUBLE) / 100 AS close_px, vol,
      |  CAST(SUM(sv) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
      |FROM sv
      |ORDER BY event_type, day""".stripMargin

  // --- q326: stochastic oscillator (%K/%D, exact integer grid) -------------
  // The range-position momentum indicator: %K = 100·(c−min14)/(max14−min14)
  // over a 14-day channel, %D = 3-day SMA of %K. Both live entirely on
  // exact integer grids — k_e6 = (c−min)·1e8 div (max−min) through the
  // decimal(38,0) route, %D = the mean of three k_e6 longs by integral
  // division — so no IEEE chain exists to diverge and a flat channel
  // (max=min) yields NULL by guard, not 0/0. Day-level windows over the
  // close series, corpus reduced first (the q317/q318 shape).
  def q326(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"ts", $"event_id",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"),
      expr("(ts div 1000000000) div 86400").as("day"))
    val close = ev.groupBy($"event_type", $"day")
      .agg(max(struct($"ts", $"event_id", $"v")).getField("v").as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val w14 = w.rowsBetween(-13, 0)
    val wK = w.rowsBetween(-2, 0)
    close
      .withColumn("rn", row_number().over(w))
      .withColumn("lo", min($"c").over(w14))
      .withColumn("hi", max($"c").over(w14))
      .withColumn("k_e6", when($"hi" === $"lo", lit(null).cast("long"))
        .otherwise(expr(
          "cast(cast(c - lo as decimal(38,0)) * 100000000 div (hi - lo) as bigint)")))
      .withColumn("n_k", count($"k_e6").over(wK))
      .withColumn("sk", sum($"k_e6").over(wK))
      .withColumn("d_e6", when($"n_k" === 3,
        expr("cast(sk div 3 as bigint)")).otherwise(lit(null).cast("long")))
      .filter($"rn" >= 14)
      .select($"event_type", $"day",
        ($"c".cast("double") / 100).as("close_px"),
        ($"k_e6".cast("double") / 1e6).as("pct_k"),
        when($"rn" >= 16, $"d_e6".cast("double") / 1e6).as("pct_d"))
      .orderBy($"event_type", $"day")
  }
  val q326Sql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS tus, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    epoch_us(ts) // 1000000 // 86400 AS day
      |  FROM events),
      |close AS (
      |  SELECT event_type, day, v AS c FROM (
      |    SELECT event_type, day, v,
      |      ROW_NUMBER() OVER (PARTITION BY event_type, day
      |        ORDER BY tus DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |chan AS (
      |  SELECT event_type, day, c,
      |    ROW_NUMBER() OVER w AS rn,
      |    MIN(c) OVER w14 AS lo, MAX(c) OVER w14 AS hi
      |  FROM close
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day),
      |    w14 AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      |k AS (
      |  SELECT event_type, day, c, rn,
      |    CASE WHEN hi = lo THEN NULL
      |      ELSE CAST(CAST(c - lo AS HUGEINT) * 100000000 // (hi - lo) AS BIGINT)
      |    END AS k_e6
      |  FROM chan),
      |kd AS (
      |  SELECT event_type, day, c, rn, k_e6,
      |    COUNT(k_e6) OVER wk AS n_k,
      |    CAST(SUM(k_e6) OVER wk // 3 AS BIGINT) AS d_e6_raw
      |  FROM k
      |  WINDOW wk AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day, CAST(c AS DOUBLE) / 100 AS close_px,
      |  CAST(k_e6 AS DOUBLE) / 1e6 AS pct_k,
      |  CASE WHEN rn >= 16 AND n_k = 3 THEN CAST(d_e6_raw AS DOUBLE) / 1e6
      |       ELSE NULL END AS pct_d
      |FROM kd WHERE rn >= 14
      |ORDER BY event_type, day""".stripMargin

  def pack: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q292_rollup_timetravel", q292 _, Some(q292Sql)),
    ("q317_max_drawdown", q317 _, Some(q317Sql)),
    ("q325_obv", q325 _, Some(q325Sql)),
    ("q326_stochastic", q326 _, Some(q326Sql)),
    ("q327_stream_ohlc", q327 _, Some(q327Sql)),
    ("q330_var_volatility", q330 _, Some(q330Sql)),
    ("q332_range_frames", q332 _, Some(q332Sql)),
    ("q336_partition_audit", q336 _, Some(q336Sql)),
    ("q318_rsi_bollinger", q318 _, Some(q318Sql)),
    ("q319_binseg_changepoint", q319 _, Some(q319Sql)),
    ("q298_forget_user", q298 _, Some(q298Sql)),
    ("q303_capped_sessions", q303 _, Some(q303Sql)),
    ("q304_weekly_movers", q304 _, Some(q304Sql)),
    ("q305_strict_funnel", q305 _, Some(q305Sql)),
    ("q344_pattern_match", q344 _, Some(q344Sql)),
    ("q350_pattern_all_matches", q350 _, Some(q350Sql)),
    ("q299_time_to_convert", q299 _, Some(q299Sql)),
    ("q300_bot_screen", q300 _, Some(q300Sql)),
    ("q301_lagged_xcorr", q301 _, Some(q301Sql)),
    ("q293_weekday_seasonality", q293 _, Some(q293Sql)),
    ("q291_gini_concentration", q291 _, Some(q291Sql)),
    ("q287_weighted_sample", q287 _, Some(q287Sql)),
    ("q289_lake_checksum", q289 _, Some(q289Sql)),
    ("q281_mad_outliers", q281 _, Some(q281Sql)),
    ("q286_stream_right_outer", q286 _, Some(q286Sql)),
    ("q282_sequence_mining", q282 _, Some(q282Sql)),
    ("q283_transition_entropy", q283 _, Some(q283Sql)),
    ("q239_psi_drift", q239 _, Some(q239Sql)),
    ("q266_stream_psi", q266 _, Some(q266Sql)),
    ("q249_ewma_smoothing", q249 _, Some(q249Sql)),
    ("q250_peak_concurrency", q250 _, Some(q250Sql)),
    ("q257_linear_attribution", q257 _, Some(q257Sql)),
    ("q258_rolling_median", q258 _, Some(q258Sql)),
    ("q270_growth_accounting", q270 _, Some(q270Sql)),
    ("q273_fano_factor", q273 _, Some(q273Sql)),
    ("q202_daily_drift_jsd", q202 _, Some(q202Sql)),
    ("q218_dynamic_pruning", q218 _, Some(q218Sql)),
    ("q223_stream_cdc_apply", q223 _, Some(q223Sql)),
    ("q228_stream_chained_windows", q228 _, Some(q228Sql)),
    ("q231_stream_late_accounting", q231 _, Some(q231Sql)),
    ("q234_active_streaks", q234 _, Some(q234Sql)),
    ("q213_point_in_time_join", q213 _, Some(q213Sql)),
    ("q211_decayed_engagement", q211 _, Some(q211Sql)),
    ("q212_conversion_latency", q212 _, Some(q212Sql)),
    ("q209_stream_hourly_topk", q209 _, Some(q209Sql)),
    ("q210_view_drift_jsd", q210 _, Some(q210Sql)),
    ("q204_sketch_rollup", q204 _, Some(q204Sql)),
    ("q24_hourly_trend", q24 _, Some(q24Sql)),
    ("q25_tumbling_window", q25 _, Some(q25Sql)),
    ("q26_sliding_window", q26 _, Some(q26Sql)),
    ("q27_sessionize", q27 _, Some(q27Sql)),
    ("q28_json_extract", q28 _, Some(q28Sql)),
    ("q29_asof_lookup", q29 _, Some(q29Sql)),
    ("q30_user_summary", q30 _, Some(q30Sql)),
    ("q34_stream_hourly_trend", q34 _, Some(q34Sql)),
    ("q58_stream_interval_join", q58 _, Some(q58Sql)),
    ("q92_asof_native", q92 _, Some(q92Sql)),
    ("q95_stream_sessionize", q95 _, Some(q95Sql)),
    ("q97_gap_fill", q97 _, Some(q97Sql)),
    ("q98_event_funnel", q98 _, Some(q98Sql)),
    ("q99_scd2_intervals", q99 _, Some(q99Sql)),
    ("q114_last_touch", q114 _, Some(q114Sql)),
    ("q121_stream_static_join", q121 _, Some(q121Sql)),
    ("q127_stream_freshness", q127 _, Some(q127Sql)),
    ("q129_incremental_rollup", q129 _, Some(q129Sql)),
    ("q137_stream_heavy_hitters", q137 _, Some(q137Sql)),
    ("q146_event_transitions", q146 _, Some(q146Sql)),
    ("q149_user_growth", q149 _, Some(q149Sql)),
    ("q150_rolling_anomaly", q150 _, Some(q150Sql)),
    ("q155_stream_session_window", q155 _, Some(q155Sql)),
    ("q156_cusum_changepoint", q156 _, Some(q156Sql)),
    ("q157_stream_outer_join", q157 _, Some(q157Sql)),
    ("q172_stream_full_outer_join", q172 _, Some(q172Sql)),
    ("q173_rollup_retraction", q173 _, Some(q173Sql)),
    ("q177_stream_semi_join", q177 _, Some(q177Sql)),
    ("q188_hourly_acf", q188 _, Some(q188Sql)),
    ("q190_stream_distinct_users", q190 _, Some(q190Sql)),
    ("q191_stream_suppression", q191 _, Some(q191Sql)),
    ("q193_interp_resample", q193 _, Some(q193Sql)),
    ("q158_twap", q158 _, Some(q158Sql)),
    ("q159_ohlc_bars", q159 _, Some(q159Sql)),
    ("q163_seasonal_baseline", q163 _, Some(q163Sql)),
    ("q164_stream_dedup", q164 _, Some(q164Sql)),
    ("q165_session_paths", q165 _, Some(q165Sql)))
}
