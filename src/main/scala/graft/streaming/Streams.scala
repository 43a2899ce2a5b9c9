package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, GlobFilter, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoders => SEncoders}
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, StreamingQueryProgress, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.StructType

import graft.GraftSession

/** Structured Streaming surface — the unbounded-time-series form of the
  * reference's hourly poll (SURVEY.md §1.1: the "stream" is a cron-batched
  * hourly extract; logically it is an event-time stream, so the engine
  * exposes the same aggregations as streaming queries).
  *
  * - [[hourlyTrend]] is the streaming twin of queries.Events.q24 (the
  *   dashboard aggregation) with an event-time watermark — the A10
  *   freshness gate generalized: late data beyond the watermark is dropped
  *   rather than silently skewing closed buckets.
  * - [[sessionWindows]] is the streaming twin of q27 sessionization using
  *   the built-in session_window.
  * - [[userRunningCounts]] shows the custom-state escape hatch
  *   (mapGroupsWithState) for logic windows can't express.
  *
  * All run with file sources + `Trigger.AvailableNow` (the faithful
  * re-expression of the reference's catchup=False cron batch,
  * dags/crypto-etl-pipeline-psql.py:136-138) and scale by partitioning on
  * the group keys exactly like their batch twins.
  */
object Streams {

  /** Streaming events source over a parquet directory. The schema is
    * pinned through [[sourceSchema]] (streaming requires an explicit
    * schema; ts arrives as long nanos, see Tables.events).
    *
    * `glob` selects which files in `dir` are part of the stream;
    * `maxFilesPerTrigger` caps files per micro-batch — Trigger.AvailableNow
    * honors it, so a multi-file backlog drains as MULTIPLE batches, which
    * is how specs exercise cross-batch watermark advancement and state
    * eviction against real batch boundaries. */
  def eventsStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // the testdata table is a single parquet file; the file stream source
    // needs a directory, so stream the parent with a glob filter
    val reader = spark.readStream.schema(sourceSchema(spark, dir, glob))
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    // Same ts canonicalization as the batch loader (long epoch-ns,
    // schema-driven — see Tables.normalizeEventsTs), then the derived
    // µs timestamp every watermark/window consumer uses.
    graft.Tables.normalizeEventsTs(reader.parquet(dir))
      .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
  }

  /** Generic single-table file stream over a dataset dir (the
    * [[eventsStream]] source shape without the events-specific ts
    * canonicalization): pinned schema, parent-dir glob. */
  def tableStream(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.readStream.schema(sourceSchema(spark, dir, glob))
      .option("pathGlobFilter", glob).parquet(dir)

  /** Schemas by (dir, glob), each with the fingerprint of the files it was
    * inferred from. */
  private val schemas =
    new ConcurrentHashMap[(String, String), (Seq[(String, Long, Long)], StructType)]()

  /** The schema a batch parquet read infers for `dir`'s files matching
    * `glob`. Inference runs a Spark job, so the schema is memoized and
    * inferred again only when the matching files' (name, length, mtime)
    * fingerprint changes: a listing costs no job, and a file rewritten in
    * place changes its length or mtime. Like every read here, the memo
    * assumes the engine session's parquet confs (GraftSession). */
  private[graft] def sourceSchema(spark: SparkSession, dir: String,
      glob: String): StructType = {
    val path = new Path(dir)
    val files = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(path, new GlobFilter(glob))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sorted.toSeq
    Option(schemas.get((dir, glob))).collect { case (`files`, schema) => schema }
      .getOrElse {
        val schema = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
        schemas.put((dir, glob), (files, schema))
        schema
      }
  }

  /** Drain a stream through a per-micro-batch BATCH transform into an
    * append-only parquet sink (AvailableNow, checkpointed — restart-safe
    * at the file-source offset granularity). The foreachBatch escape
    * hatch for logic that is not a streaming-compatible plan: each batch
    * is an ordinary DataFrame, so the transform may collect bounded
    * driver-side state, use ranking windows, or join partition-pruned
    * static tables — q197 runs the materialized ANN probe this way.
    * Exactly-once here is per-batch-file: parquet append of a replayed
    * batch would duplicate rows, so transforms needing cross-restart
    * exactly-once should write through Rollup.mergeInto's versioned
    * commit instead (batchId is passed through for that purpose). */
  def drainToParquet(stream: DataFrame, sinkPath: String,
      checkpointDir: String)(perBatch: (DataFrame, Long) => DataFrame): Unit =
    drainBatches(stream, checkpointDir) { (batch, id) =>
      perBatch(batch, id).write.mode("append").parquet(sinkPath)
    }

  /** Drain a stream's backlog (one AvailableNow pass, checkpointed at
    * `checkpointDir`) through `perBatch`, the foreachBatch escape hatch;
    * blocks until the backlog is drained. Runs through [[drain]]. */
  def drainBatches(stream: DataFrame, checkpointDir: String)(
      perBatch: (DataFrame, Long) => Unit): Unit =
    drain(stream.sparkSession, stream, Some(checkpointDir))(_.foreachBatch(perBatch))

  /** Start `df`'s stream as configured by `sink`, under AvailableNow, and
    * block until the backlog is drained. The one place this codebase
    * starts a stream. For the drain's lifetime only (restored in
    * `finally`) the session carries `confs` plus [[drainConfs]], which
    * remove two fixed costs every drain otherwise pays:
    *
    * - [[GraftSession.SharedCodeCache]]. A streaming query runs on a
    *   clone of the session; with its own artifact classloader every drain
    *   recompiled its whole plan (14 classes for a warm q34) and ran it
    *   cold.
    * - `spark.sql.streaming.checkpointFileManagerClass` set to
    *   `FileSystemBasedCheckpointFileManager`, only for a local checkpoint
    *   (see [[drainConfs]]). Spark's default manager renames through
    *   Hadoop's FileContext, which without the native Hadoop library
    *   forks a `readlink` process for each side of every rename (~11 ms a
    *   fork). Both managers write a temporary file and rename it without
    *   overwriting; Hadoop's `.crc` sidecars and Spark's checkpoint
    *   checksums are written either way. On object stores
    *   `FileSystem.rename` is not atomic, so other schemes keep the
    *   default manager.
    *
    * CONSTRAINT: the confs are swapped through [[GraftSession.withConfs]],
    * session-global for the drain's duration. The bench/spec/Verify
    * harnesses are strictly sequential; concurrent callers pass a cloned
    * session. */
  private def drain(spark: SparkSession, df: DataFrame,
      checkpointDir: Option[String], confs: Seq[(String, String)] = Nil)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery =
    GraftSession.withConfs(spark, confs ++ drainConfs(spark, checkpointDir)) {
      val w = sink(df.writeStream.trigger(Trigger.AvailableNow()))
      val q = checkpointDir.fold(w)(w.option("checkpointLocation", _)).start()
      q.awaitTermination()
      q
    }

  /** The confs [[drain]] adds for a drain checkpointed at `checkpointDir`
    * (None: Spark's own choice, the session's checkpoint root or a local
    * temporary directory). The checkpoint manager is overridden only when
    * the checkpoint resolves to the local filesystem: its own scheme, else
    * the default filesystem's. */
  private[graft] def drainConfs(spark: SparkSession,
      checkpointDir: Option[String]): Seq[(String, String)] = {
    val scheme = checkpointDir
      .orElse(spark.conf.getOption("spark.sql.streaming.checkpointLocation"))
      .flatMap(d => Option(new Path(d).toUri.getScheme))
      .getOrElse(FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    val isolation = Seq(GraftSession.SharedCodeCache)
    if (scheme != "file") isolation
    else isolation :+ ("spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[FileSystemBasedCheckpointFileManager].getName)
  }

  /** Chained stateful aggregations in ONE streaming query — Spark's
    * multiple-stateful-operator support (3.4+): an hourly windowed count
    * re-aggregated into daily windows via `window_time`, which carries
    * the first aggregation's event-time column into the second so the
    * single global watermark drives BOTH state stores. This is the
    * streaming form of the q204 re-aggregation architecture (partials →
    * coarser rollup) without landing the intermediate anywhere: at scale
    * it halves the sink traffic a two-query pipeline would pay and keeps
    * the hourly state bounded by the same watermark. Append mode is
    * REQUIRED (chained stateful ops reject update/complete), so a window
    * emits only once the watermark passes its end — callers restrict to
    * the provably-emitted region (day end ≤ max event time − delay), the
    * q157/q172 cutoff discipline. */
  def dailyFromHourly(events: DataFrame): DataFrame = events
    .withWatermark("ts_us", "2 hours")
    .groupBy(window(col("ts_us"), "1 hour").as("hw"), col("event_type"))
    .agg(count(lit(1)).as("n_events"))
    .groupBy(window(expr("window_time(hw)"), "1 day").as("dw"),
      col("event_type"))
    .agg(sum(col("n_events")).as("n_events"), count(lit(1)).as("n_hours"))
    .select(date_format(col("dw.start"), "yyyy-MM-dd HH:mm:ss").as("day_start"),
      col("event_type"), col("n_events"), col("n_hours"))

  /** Streaming OHLC candlestick bars + VWAP — the streaming twin of
    * queries.Events.q159 (the reference's crypto dashboard aggregate) the
    * way [[hourlyTrend]] twins q24. Open/close ride struct-ordered
    * min/max aggregates (deterministic, streaming-compatible — no
    * windows), VWAP's Σv·k / Σk is exact decimal arithmetic with q159's
    * one grid snap, so the drained sink hash-matches the batch oracle
    * verbatim. State per open (hour, type) window only — watermark-bounded. */
  def ohlcBars(events: DataFrame): DataFrame = {
    val big = "decimal(38,0)"
    events
      .withWatermark("ts_us", "2 hours")
      .withColumn("v", (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(window(col("ts_us"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_trades"),
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"),
        sum(col("v").cast(big) * col("k").cast(big)).as("num"),
        sum(col("k").cast(big)).as("den"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("n_trades"), col("open"), col("high"), col("low"), col("close"),
        when(col("den") === lit(0).cast(big), lit(null).cast("double"))
          .otherwise(round(col("num").cast("double") / col("den").cast("double")
            / 100 * 1e9).cast("long").cast("double") / 1e9).as("vwap"))
  }

  /** Tumbling 1-hour windows per event type with a 2-hour watermark. */
  def hourlyTrend(events: DataFrame): DataFrame = events
    .withWatermark("ts_us", "2 hours")
    .groupBy(window(col("ts_us"), "1 hour").as("w"), col("event_type"))
    .agg(count(lit(1)).as("n_events"),
      sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
      col("event_type"), col("n_events"), col("sum_value"))

  /** EXACT distinct users per tumbling hour — streaming COUNT(DISTINCT)
    * via composition (Spark has no native streaming distinct aggregate):
    * a watermark-bounded stateful dedup on (user, hour) lets exactly one
    * event per pair through, and the downstream windowed count then IS
    * the distinct-user count. The dedup is `dropDuplicatesWithinWatermark`
    * — NOT plain `dropDuplicates`, whose state is only evicted when a
    * dedup key column itself carries event-time watermark metadata
    * (neither user_id nor the derived hour_key does, so its state would
    * grow without bound in a continuous deployment). WithinWatermark
    * evicts a key once the watermark passes its max-seen event time +
    * delay, so state ∝ distinct (user, hour) pairs inside the horizon.
    * Exactness survives the weaker within-horizon contract: two events
    * sharing a (user, hour) key are < 1 h apart in event time, inside the
    * 2 h delay — a later duplicate either finds the key still in state
    * (dropped as a duplicate) or is itself beyond the watermark (dropped
    * as late), never double-counted. The approximate alternative at
    * extreme key cardinality is an HLL sketch per window (q63's batch
    * shape). */
  def hourlyDistinctUsers(events: DataFrame): DataFrame = events
    .withColumn("hour_key", expr("(ts div 1000000000) div 3600"))
    .withWatermark("ts_us", "2 hours")
    .dropDuplicatesWithinWatermark("user_id", "hour_key")
    .groupBy(window(col("ts_us"), "1 hour").as("w"))
    .agg(count(lit(1)).as("n_distinct_users"))
    .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
      col("n_distinct_users"))

  /** Event-time session windows (30-minute gap) per user. */
  def sessionWindows(events: DataFrame): DataFrame = events
    .withWatermark("ts_us", "2 hours")
    .groupBy(session_window(col("ts_us"), "30 minutes").as("sw"), col("user_id"))
    .agg(count(lit(1)).as("n_events"))
    .select(col("user_id"),
      date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
      col("n_events"))

  /** Custom keyed state: running event count + last-seen type per user.
    * The mapGroupsWithState escape hatch for semantics that windows cannot
    * express (cross-batch accumulators, custom timeouts). */
  final case class UserState(n: Long, lastType: String)
  final case class UserUpdate(user_id: Long, n_events: Long, last_type: String)

  def userRunningCounts(spark: SparkSession, events: DataFrame): Dataset[UserUpdate] = {
    import spark.implicits._
    events.select(col("user_id").as[Long], col("event_type").as[String],
        col("ts").as[Long])
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserUpdate](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserState]) =>
          val sorted = rows.toSeq.sortBy(_._3)
          val prev = state.getOption.getOrElse(UserState(0L, ""))
          val next = UserState(prev.n + sorted.size,
            sorted.lastOption.map(_._2).getOrElse(prev.lastType))
          state.update(next)
          UserUpdate(uid, next.n, next.lastType)
      }
  }

  /** The same running-counts state logic on Spark 4's transformWithState —
    * the successor API to (flat)mapGroupsWithState: state is declared as
    * named typed handles (ValueState/ListState/MapState) with optional TTL,
    * timers replace GroupStateTimeout, and the RocksDB state store is
    * required (set `spark.sql.streaming.stateStore.providerClass` to the
    * RocksDB provider). At scale the win is granular state: one key's
    * update touches its state entries, not a monolithic per-key blob. */
  final class RunningCountsProcessor
      extends StatefulProcessor[Long, (Long, String, Long), UserUpdate] {
    @transient private var st: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserState]("user",
        SEncoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String, Long)],
        timerValues: TimerValues): Iterator[UserUpdate] = {
      val sorted = rows.toSeq.sortBy(_._3)
      val prev = if (st.exists()) st.get() else UserState(0L, "")
      val next = UserState(prev.n + sorted.size,
        sorted.lastOption.map(_._2).getOrElse(prev.lastType))
      st.update(next)
      Iterator.single(UserUpdate(key, next.n, next.lastType))
    }
  }

  def userRunningCountsTws(spark: SparkSession, events: DataFrame): Dataset[UserUpdate] = {
    import spark.implicits._
    events.select(col("user_id").as[Long], col("event_type").as[String],
        col("ts").as[Long])
      .groupByKey(_._1)
      .transformWithState(new RunningCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Custom-state sessionizer via flatMapGroupsWithState: accumulates an
    * open session per user, emits ONE closed-session row per 30-minute gap
    * (zero rows while a session stays open — the flatMap shape windows
    * can't express with mapGroupsWithState's exactly-one-output contract).
    * The final open session is emitted when the state times out; with an
    * AvailableNow backlog run the batch end flushes it. State is one small
    * tuple per active user — memory proportional to live users, not the
    * stream.
    *
    * The 30-minute gap matches queries.Events.q27 (the lag+cumsum batch
    * sessionizer), which StreamingSpec uses as the equivalence oracle. */
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class ClosedSession(user_id: Long, session_start_s: Long,
    session_end_s: Long, n_events: Long)

  def sessionizeWithState(spark: SparkSession, events: DataFrame,
      gapSeconds: Long = 1800L): Dataset[ClosedSession] = {
    import spark.implicits._
    events.select(col("user_id").as[Long], expr("ts div 1000000000").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[SessionState]) =>
          // fold this batch's (sorted) events into open/closed sessions
          val sorted = rows.map(_._2).toSeq.sorted
          val (closed, open) = sorted.foldLeft(
            (List.empty[SessionState], state.getOption)) {
            case ((done, None), t) => (done, Some(SessionState(t, t, 1)))
            case ((done, Some(s)), t) =>
              if (t - s.end > gapSeconds) (s :: done, Some(SessionState(t, t, 1)))
              else (done, Some(s.copy(end = t, n = s.n + 1)))
          }
          // AvailableNow backlog = one batch: flush the open session too
          // (a live deployment would keep it in state and close on timeout)
          state.remove()
          (open.toList ++ closed).reverse
            .map(s => ClosedSession(uid, s.start, s.end, s.n)).iterator
      }
  }

  /** Stream-stream interval join of views to the same user's purchases
    * within the hour after the view, for `joinType` ∈ {inner, leftOuter,
    * rightOuter, fullOuter, leftSemi} — the streaming join matrix (q58
    * inner, q157 left outer, q286 right outer, q172 full outer, q177 left
    * semi). Both sides are independent streaming sources with their own
    * event-time watermark; the join condition carries ONLY the event-time
    * range on the watermarked timestamp columns — that is what lets Spark
    * bound the join state (each side's buffered rows drop once the other
    * side's watermark passes the range), and it is also all the
    * watermark-propagation simulator can analyze: a raw long conjunct
    * (p_ns - v_ns) inside the join condition makes multi-batch runs fail
    * with "Cannot evaluate expression" when the simulator computes
    * eviction thresholds. At scale this is the canonical enrichment-join
    * shape: state ∝ one hour of per-user traffic, not the stream.
    *
    * `inner` alone keeps the exact nanosecond bound, as a stateless filter
    * AFTER the join: the micros-truncated event-time column alone would
    * mis-classify pairs within 1 us of the boundary, and the filter is
    * equivalent for an inner join since floor is monotone and 1 hour is a
    * whole number of micros (the ns range implies the us range). The other
    * forms are µs-exact: the physical parquet is timestamp[us], so the ns
    * residual is identically zero, and an outer join cannot re-classify a
    * pair post-join the way a stateless residual filter can.
    *
    * Outer emission is watermark-driven — an unmatched row's null-extended
    * row appears only when state eviction PROVES no match can arrive
    * (watermark past the window end) — so a static-backlog drain would
    * leave rows near the stream's end unresolved in state forever. The
    * outer side is therefore bounded at max_ts − 4 h (join range 1 h +
    * watermark 2 h + 1 h slack): `leftOuter` and `fullOuter` bound the
    * views, `rightOuter` the purchases; every retained row is provably
    * resolvable by the post-backlog no-data batch. The max lookup is a
    * driver-side one-row aggregate over the batch table (the Upsert
    * partition-pruning convention: bounded, load-bearing); a caller that
    * already ran it passes `maxNsHint` (q172 needs it again for its
    * resolution filter). Matched pairs are unaffected by a purchase
    * cutoff: a matching view precedes its purchase, so it is ≤ the
    * purchase's own bounded timestamp.
    *
    * Each side's watermark node observes only ITS side's rows (writing the
    * filter after withWatermark does not help — Catalyst pushes
    * non-watermark-column predicates back below the node), and Spark's
    * GLOBAL watermark is the MIN across nodes. The bounded side's max event
    * time is cutoff-bounded, so under the default min policy the global
    * watermark stalls 2 h behind the LAST RETAINED row, whose own state
    * then never evicts and whose null row never emits (observed live:
    * exactly one row missing at sf0.001). The outer drains must therefore
    * run under multipleWatermarkPolicy=max (q157, q286 and q172 do, with
    * restore): keyed to the freshest side, the final watermark is
    * max_ts − 2 h and every retained row (≤ max_ts − 4 h) resolves with an
    * hour of slack — no eviction-boundary sensitivity. The two outer sides
    * cannot BOTH be bounded: the global watermark derives from the sides'
    * own max event times, so bounding both stalls it below what either
    * side's null rows need. `fullOuter` therefore bounds only the views and
    * leaves purchases unbounded to keep the watermark fresh, which leaves
    * purchases in the last 2 h unresolved in state — the CALLER must
    * restrict the drained null-purchase rows to p_ts ≤ max−4h (q172 does,
    * and its oracle states the identical restriction). That region is
    * provably resolved: watermark max−2h ≥ p_ts+2h ≥ the p_ts window end +
    * slack.
    *
    * `leftSemi` emits each view AT MOST ONCE iff some purchase lands in
    * its window. Semi emission is match-driven (a view emits on its FIRST
    * match and drops from state), so like `inner` it needs no resolution
    * cutoff: every possible match is in the backlog, and non-matching
    * views simply evict silently. State ∝ one window of unmatched views +
    * buffered purchases — strictly smaller than the inner join's (matched
    * views leave state early). */
  def viewPurchaseJoin(spark: SparkSession, dir: String, joinType: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None,
      maxNsHint: Option[Long] = None): DataFrame = {
    require(Set("inner", "leftOuter", "rightOuter", "fullOuter", "leftSemi")(joinType),
      s"unsupported view-purchase join type: $joinType")
    val boundViews = joinType == "leftOuter" || joinType == "fullOuter"
    val boundPurchases = joinType == "rightOuter"
    lazy val cutoffNs = maxNsHint.getOrElse(graft.Tables.events(spark, dir)
      .agg(max(col("ts"))).head.getLong(0)) - 4L * 3600 * 1000000000L
    def side(eventType: String, id: String, p: String, bounded: Boolean) = {
      val rows = eventsStream(spark, dir, glob, maxFilesPerTrigger)
        .filter(col("event_type") === eventType)
      (if (bounded) rows.filter(col("ts") <= cutoffNs) else rows)
        .select(col("event_id").as(id), col("user_id").as(s"${p}_user"),
          col("ts").as(s"${p}_ns"), col("ts_us").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "2 hours")
    }
    val joined = side("view", "view_id", "v", boundViews)
      .join(side("purchase", "purchase_id", "p", boundPurchases),
        expr("""v_user = p_user
                AND p_ts >= v_ts AND p_ts <= v_ts + interval 1 hour"""),
        joinType)
    if (joinType == "inner")
      joined.filter(expr("p_ns - v_ns BETWEEN 0 AND 3600000000000"))
    else joined
  }

  /** Default drain state-partition count: 2, the round-13 audit's floor
    * for SMALL-state one-shot drains. `SPARK_GRAFT_STATE_PARTS` overrides
    * it, so partition sizing stays a deployment decision (guide §2.2). */
  def defaultStatePartitions: Int =
    sys.env.get("SPARK_GRAFT_STATE_PARTS").map(_.toInt).getOrElse(2)

  /** Run a streaming DataFrame to completion against the backlog (one
    * AvailableNow pass), materialized in a memory sink; returns the sink
    * contents. Complete mode so closed-and-open windows are all visible —
    * batch-equivalence tests compare against the batch twin.
    *
    * The drain goes through [[drain]], so it shares the parent session's
    * compiled code and checkpoints (to a local temporary directory)
    * without forking a shell per rename. On top of those confs, a memory
    * drain sets two of its own for the drain's lifetime:
    *
    * - `spark.sql.shuffle.partitions = statePartitions`. Stateful
    *   streaming cost scales with shuffle partitions (one state store
    *   instance — files, maintenance, commit — per partition per stateful
    *   operator), not with data: a one-shot drain of a small backlog would
    *   pay 32 partitions of state machinery for rows that fit in 8.
    *   Results are partition-count-independent. The default of 2 suits
    *   SMALL backlogs (every graded query here); a caller draining large
    *   state must pass statePartitions explicitly, since 2 state-store
    *   instances carrying the whole state is the reducer-bottleneck shape
    *   the wide default exists to avoid at scale.
    * - `spark.sql.streaming.noDataMicroBatches.enabled = noDataBatch`.
    *   false skips the trailing no-data micro-batch — ONLY sound for
    *   drains whose results are complete after the data batches (inner
    *   joins, Complete-mode aggs): watermark-driven emission (append-mode
    *   windows, outer-join null extension) HAPPENS in that batch, so those
    *   queries must leave it on. For an eligible drain it removes a whole
    *   batch's fixed cost (~0.6s at local[32] — the round-13 floor audit's
    *   one >20% lever). */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete(),
      statePartitions: Int = defaultStatePartitions,
      noDataBatch: Boolean = true): DataFrame =
    runToMemoryTracked(spark, df, name, mode, statePartitions, noDataBatch)._1

  /** [[runToMemory]] plus the drained query's per-micro-batch progress
    * reports — the raw material for [[StreamingFreshness]] (event-time
    * lag observability). recentProgress is populated synchronously at each
    * batch commit, so after awaitTermination it is complete. */
  def runToMemoryTracked(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete(),
      statePartitions: Int = defaultStatePartitions,
      noDataBatch: Boolean = true): (DataFrame, Array[StreamingQueryProgress]) = {
    // Re-registering a sink name drops the previous invocation's temp view
    // first: the memory sink retains its full materialized result for the
    // session's lifetime, so without the drop every re-run (bench runs each
    // query 2-3 times, specs and Verify again in the same session) leaked
    // another copy into driver memory.
    spark.catalog.dropTempView(name)
    val q = drain(spark, df, None, Seq(
      "spark.sql.shuffle.partitions" -> statePartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatch.toString)) {
      _.outputMode(mode).format("memory").queryName(name)
    }
    (spark.table(name), q.recentProgress)
  }

  def runDatasetToMemory[T](spark: SparkSession, ds: Dataset[T], name: String,
      mode: OutputMode, statePartitions: Int = defaultStatePartitions): DataFrame =
    runToMemory(spark, ds.toDF(), name, mode, statePartitions)

  /** Stream-static enrichment join — the remaining streaming join shape
    * after the stream-stream interval join ([[viewPurchaseJoin]]):
    * each micro-batch of the event stream is joined against a STATIC
    * dimension table. Stateless (no watermark, no join state — the static
    * side is complete by definition), and the dimension is broadcast, so
    * enrichment adds ZERO shuffles to the stream: the canonical "attach
    * dimension attributes to a firehose" topology at cluster scale. The
    * static side is re-planned per micro-batch, so dimension updates
    * between batches are picked up — the streaming analogue of the
    * reference's warehouse-lookup reads. */
  def enrichAgainstDimension(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = eventsStream(spark, dir, glob, maxFilesPerTrigger)
    val dim = broadcast(graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment")))
    ev.join(dim, ev("user_id") === dim("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("c_mktsegment"), lit("none")).as("segment"))
  }

  /** Stream-static LEFT ANTI join — the blocklist/suppression topology:
    * each micro-batch keeps only events whose user is ABSENT from a
    * static exclusion table (here: customers in the AUTOMOBILE segment).
    * Stateless like [[enrichAgainstDimension]] (the static side is
    * complete by definition — no watermark, no join state) and the
    * static side broadcasts, so suppression adds zero shuffles to the
    * stream; the static table re-plans per micro-batch, so blocklist
    * updates between batches take effect immediately — the streaming
    * form of GDPR/opt-out suppression at ingest. */
  def suppressByDimension(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = eventsStream(spark, dir, glob, maxFilesPerTrigger)
    val block = graft.Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey").as("user_id"))
    ev.join(broadcast(block), Seq("user_id"), "left_anti")
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** Stateful streaming dedup: drop repeated keys arriving within the
    * watermark horizon (the bounded-state form of exact dedup for streams —
    * state for a key is released once the watermark passes it, so memory is
    * proportional to the horizon, not the stream). */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame = events
    .withWatermark("ts_us", watermark)
    .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming incremental near-duplicate candidate generation — the
    * continuous form of [[graft.operators.Dedup.nearDuplicatePairs]]'s
    * banding: documents arrive as a stream, each computes its MinHash
    * signature in a PER-ROW projection (no shuffle, no window — the price
    * of not having the batch's 64-column MIN aggregation is an interpreted
    * per-row fold over the doc's shingles, linear and embarrassingly
    * parallel), explodes into its 32 band buckets, and a
    * [[BandBucketProcessor]] keyed on (band, bucket-hash) holds the doc
    * ids seen so far in RocksDB ListState, emitting a candidate pair the
    * moment a new arrival collides with any prior occupant. Signatures
    * reproduce the batch operator bit-for-bit (same shingle hash, same
    * per-permutation xxhash64, same band hash), so the drained candidate
    * set equals batch banding's and the exact-Jaccard rerank
    * ([[graft.operators.Dedup.exactJaccardRerank]]) yields the identical
    * oracle-checkable pair set — q134 hash-checks this against the q45
    * brute-force oracle.
    *
    * Scale: state per bucket is the bucket's doc-id list — the same
    * population the batch self-join sees; emission per arrival is
    * |bucket| pairs. A production deployment would cap per-bucket state
    * (route buckets past the cap to the batch skew path, as
    * Skew.hybridBucketPairs does) and TTL-expire buckets once the corpus
    * window closes; the mechanism here is the uncapped core.
    *
    * Returns the DISTINCT drained candidate pairs (doc_a < doc_b). */
  final class BandBucketProcessor
      extends StatefulProcessor[(Int, Long), (Int, Long, Long), (Long, Long)] {
    @transient private var seen: org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[Long]("docs", SEncoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: (Int, Long), rows: Iterator[(Int, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val incoming = rows.map(_._3).toArray.distinct.sorted
      val prior = seen.get().toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var i = 0
      while (i < incoming.length) {
        val d = incoming(i)
        prior.foreach(p => if (p != d) out += (if (p < d) (p, d) else (d, p)))
        var j = 0
        while (j < i) { out += ((incoming(j), d)); j += 1 }
        i += 1
      }
      seen.appendList(incoming)
      out.iterator
    }
  }

  def streamingNearDupCandidates(spark: SparkSession, dir: String,
      glob: String = "documents.parquet", k: Int = 3,
      numPerm: Int = 64, bands: Int = 32,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    val rowsPerBand = numPerm / bands
    val reader = spark.readStream.schema(sourceSchema(spark, dir, glob))
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    // Tokenization stays Catalyst (tokens = the repo-wide normalizeText +
    // split — reimplementing its regex/lowercase semantics in Scala would
    // risk divergence); everything downstream — k-gram join, shingle hash,
    // 64 per-permutation minima, 32 band hashes — runs in ONE typed
    // flatMap over the SAME XXH64 kernel the xxhash64 expression uses.
    // Spark evaluates xxhash64(a, b, ...) as a left fold over the children
    // with seed 42, hashing each by ITS type: a String goes through
    // hashUTF8String, an Int literal through hashInt, a long column
    // through hashLong — so gram hash = hashUTF8String(gram, 42),
    // seed_i = hashInt(i, 42), and the band fold reproduce the batch
    // operator bit-for-bit (StreamingSpec proves candidate-set EQUALITY
    // against Dedup.nearDuplicatePairs at threshold 0). Earlier drafts
    // computed this in Catalyst HOFs: 64 array_min(transform(...)) columns
    // ran interpreted ×64 passes per doc (minutes at sf0.1), and even the
    // single shingle-hash transform cost ~1s of interpreted lambda evals —
    // the fused JVM loop is one pass over each doc's tokens.
    // The minhash kernel below is the drain's real CPU (64 hashes per
    // shingle); WITHOUT an explicit repartition it runs inside the file
    // source's stage, whose task count is the backlog's file-split count
    // (1-2 splits for a single parquet file — measured 3.3 CPU-seconds
    // serialized onto 2 tasks at sf0.1), not the session's parallelism —
    // and the drain's lowered shuffle conf (statePartitions, sized for
    // the state stores) must not cap it either. One stateless exchange of
    // the raw (doc_id, text) rows spreads the kernel across the cluster;
    // candidate output is grouping-invariant (band buckets re-key the
    // shuffle right after), so results are unchanged.
    val kernelWidth = spark.sparkContext.defaultParallelism
    val toksDs = reader.parquet(dir)
      .repartition(kernelWidth)
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id").as[Long], col("toks").as[Seq[String]])
    val permSeeds = Array.tabulate(numPerm)(i =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, 42L))
    val nb = bands
    val rpb = rowsPerBand
    val banded = toksDs.flatMap { case (docId, toks) =>
      import org.apache.spark.sql.catalyst.expressions.XXH64.{hashLong, hashUTF8String}
      val mins = Array.fill(numPerm)(Long.MaxValue)
      val arr = toks.toArray
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j + k <= arr.length) {
        sb.setLength(0)
        var t = 0
        while (t < k) {
          if (t > 0) sb.append(' ')
          sb.append(arr(j + t))
          t += 1
        }
        val h = hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), 42L)
        var i = 0
        while (i < numPerm) {
          val v = hashLong(h, permSeeds(i))
          if (v < mins(i)) mins(i) = v
          i += 1
        }
        j += 1
      }
      (0 until nb).map { b =>
        var bh = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(b, 42L)
        var r = 0
        while (r < rpb) { bh = hashLong(mins(b * rpb + r), bh); r += 1 }
        (b, bh, docId)
      }
    }
    val pairs = banded
      .groupByKey(r => (r._1, r._2))
      .transformWithState(new BandBucketProcessor, TimeMode.None(), OutputMode.Append())
    withRocksDb(spark) {
      // statePartitions widened for THIS drain: unlike the small-state
      // drains the 2-partition floor was audited for, the band-bucket
      // stage carries real CPU (measured 3.5 CPU-seconds — RocksDB list
      // state + per-bucket pair emission — serialized onto 2 tasks at
      // sf0.1), so the per-store machinery is repaid by parallelizing the
      // pair work. kernelWidth/4 scales with the cluster; the probe swept
      // 2/4/8/16/32 at sf0.1 (4.97/4.51/4.25/4.14/5.4 s) — 8 is the knee
      // before 32 stores' init+commit overhead dominates. Results are
      // partition-count-independent (buckets are keyed; pairs are
      // distinct()ed).
      runDatasetToMemory(spark, pairs, "neardup_cand_stream", OutputMode.Append(),
          statePartitions = math.max(8, kernelWidth / 4))
        .toDF("doc_a", "doc_b").distinct()
    }
  }

  /** Run `body` with the RocksDB state-store provider (required by
    * transformWithState) plus changelog checkpointing — per-batch commits
    * upload the batch's delta instead of a full snapshot, the round-13
    * floor-audit lever for the state-store query family. Both confs are
    * restored afterwards so the session's other streams are untouched. */
  private def withRocksDb[T](spark: SparkSession)(body: => T): T =
    GraftSession.withConfs(spark, Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true"))(body)

  /** Streaming heavy hitters — a SpaceSaving summary (Metwally, Agrawal &
    * El Abbadi 2005, "Efficient Computation of Frequent and Top-k Elements
    * in Data Streams", ICDT) maintained per HASH SHARD in transformWithState
    * MapState: bounded memory (≤ `capacity` counters per shard) regardless
    * of how many distinct keys the stream carries, with the classic
    * guarantees — est ≥ true count, est − err ≤ true count, err ≤ N_shard /
    * capacity. Items hash to exactly one shard, so shard summaries are
    * DISJOINT and their union is the global summary (the merge step other
    * sketch topologies need is free here).
    *
    * Determinism (what makes the exact-capacity regime oracle-checkable):
    * incoming items fold in ascending item order, and the eviction victim
    * is the lexicographic minimum by (est, err, item) — a total order, so
    * replays and both engines agree. When `capacity` ≥ the shard's distinct
    * keys, no eviction ever fires and the summary IS the exact count table.
    *
    * Each batch re-emits the shard's full updated summary tagged with a
    * per-shard batch sequence number; [[streamingHeavyHitters]] keeps only
    * the final sequence per shard, so multi-batch backlogs (spec'd via
    * maxFilesPerTrigger) and single-batch drains read identically.
    *
    * Input (shard, item, weight); output (shard, seq, item, est, err). */
  final class SpaceSavingProcessor(capacity: Int)
      extends StatefulProcessor[Int, (Int, Long, Long), (Int, Long, Long, Long, Long)] {
    @transient private var summary: org.apache.spark.sql.streaming.MapState[Long, (Long, Long)] = _
    @transient private var seqSt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      summary = getHandle.getMapState[Long, (Long, Long)]("summary",
        SEncoders.scalaLong,
        SEncoders.tuple(SEncoders.scalaLong, SEncoders.scalaLong), TTLConfig.NONE)
      seqSt = getHandle.getValueState[Long]("seq", SEncoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(shard: Int, rows: Iterator[(Int, Long, Long)],
        timerValues: TimerValues): Iterator[(Int, Long, Long, Long, Long)] = {
      val incoming = scala.collection.mutable.TreeMap.empty[Long, Long]
      rows.foreach { case (_, item, w) =>
        incoming.update(item, incoming.getOrElse(item, 0L) + w) }
      val cur = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
      summary.iterator().foreach { case (k, v) => cur.update(k, v) }
      incoming.foreach { case (item, w) =>
        cur.get(item) match {
          case Some((est, err)) => cur.update(item, (est + w, err))
          case None if cur.size < capacity => cur.update(item, (w, 0L))
          case None =>
            // evict the minimum counter; the arrival inherits its estimate
            // as overestimation error (the SpaceSaving invariant)
            val (mi, (me, _)) = cur.minBy { case (k, (e, er)) => (e, er, k) }
            cur.remove(mi)
            cur.update(item, (me + w, me))
        }
      }
      summary.clear()
      cur.foreach { case (k, v) => summary.updateValue(k, v) }
      val seq = (if (seqSt.exists()) seqSt.get() else 0L) + 1L
      seqSt.update(seq)
      cur.toSeq.sortBy(_._1)
        .map { case (k, (e, er)) => (shard, seq, k, e, er) }.iterator
    }
  }

  /** Drain `keyCol`'s stream through the sharded [[SpaceSavingProcessor]]
    * and return the merged final summary (item, est, err). Shard routing is
    * pmod(xxhash64(key), shards) — hash, not range, so hot keys spread
    * evenly across state stores. With the default capacity the testdata's
    * key cardinalities sit far below the bound, making the summary exact
    * (the q137 oracle checks that regime); StreamingSpec exercises the
    * eviction regime's bounds with a tiny capacity. */
  def streamingHeavyHitters(spark: SparkSession, dir: String,
      glob: String = "events.parquet", keyCol: String = "user_id",
      shards: Int = 8, capacity: Int = 4096,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir, glob, maxFilesPerTrigger)
    val rows = ev.select(
        pmod(xxhash64(col(keyCol)), lit(shards.toLong)).cast("int").as("shard"),
        col(keyCol).cast("long").as("item"), lit(1L).as("w"))
      .as[(Int, Long, Long)]
    val summary = rows.groupByKey(_._1)
      .transformWithState(new SpaceSavingProcessor(capacity),
        TimeMode.None(), OutputMode.Append())
    val drained = withRocksDb(spark) {
      runDatasetToMemory(spark, summary, "heavy_hitters_stream", OutputMode.Append())
        .toDF("shard", "seq", "item", "est", "err")
    }
    // per shard, the last emitted summary supersedes earlier batches'
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
    drained.withColumn("mx", max(col("seq")).over(w))
      .filter(col("seq") === col("mx"))
      .select(col("item"), col("est"), col("err"))
  }

  /** Streaming insert-if-absent sink: each micro-batch goes through the
    * same upsert pass as the batch pipeline (A8), making the sink
    * idempotent — exactly-once results even when a batch replays after a
    * checkpoint recovery. This is the foreachBatch pattern the Tier-B
    * "Sinks" row calls for. Blocks until the AvailableNow backlog drains. */
  def upsertSink(stream: DataFrame, tablePath: String, keys: Seq[String],
      checkpointDir: String): Unit =
    drainBatches(stream, checkpointDir) { (batch, _) =>
      graft.etl.Upsert.intoParquet(batch.sparkSession, batch, tablePath, keys)
    }
}
