package graft.streaming

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.etl.QualityGate
import graft.etl.QualityGate.{Fail, GateResult}

/** Streaming freshness observability — the streaming twin of the A10 batch
  * freshness gate (reference: /root/reference/include/soda/checks.yml:7-9,
  * WARN > 2h stale, FAIL > 6h stale over `extracted_at`).
  *
  * A batch gate re-scans the table to find max(ts); a stream already KNOWS
  * its event-time high-water mark — Spark publishes it per micro-batch in
  * [[StreamingQueryProgress]].eventTime ("max"/"min"/"avg"/"watermark",
  * populated whenever the query has an event-time watermark). Freshness
  * therefore costs ZERO extra passes at any scale: we read the progress
  * telemetry the engine already emits, where the batch gate
  * ([[graft.etl.QualityGate]]) must scan the table once.
  *
  * Two consumption shapes:
  *  - [[latest]] / [[gate]]: pull-style, from a query handle — the form a
  *    scheduler's health check calls between micro-batches.
  *  - [[FreshnessListener]]: push-style, an always-on
  *    [[StreamingQueryListener]] recording the newest event-time watermark
  *    per query — the production observability hook (one listener per
  *    session, queries come and go).
  *
  * `now` is an explicit parameter everywhere, mirroring
  * [[graft.etl.QualityGate.evaluate]]: reproducible, spec-checkable, and
  * honest about whose clock defines staleness (the monitor's, not the
  * executor's).
  */
object StreamingFreshness {

  /** The freshness-relevant slice of one micro-batch's progress. */
  final case class FreshnessProgress(
      batchId: Long,
      maxEventTime: Option[Timestamp],
      watermark: Option[Timestamp],
      numInputRows: Long)

  private def parseTs(s: String): Option[Timestamp] =
    try Some(Timestamp.from(Instant.parse(s))) catch { case _: Exception => None }

  /** Extract event-time telemetry from one progress report. `eventTime` is
    * empty for batches with no input rows or queries without watermarks —
    * maxEventTime is None then, and the gate treats "never seen an event"
    * as maximally stale, same as the batch gate's empty-table arm. */
  def fromProgress(p: StreamingQueryProgress): FreshnessProgress = {
    val et = p.eventTime.asScala
    FreshnessProgress(
      p.batchId,
      et.get("max").flatMap(parseTs),
      et.get("watermark").flatMap(parseTs),
      p.numInputRows)
  }

  /** Newest progress that actually carries an event-time max — batches at
    * the tail of an AvailableNow drain are often empty (state flush only),
    * so `lastProgress` alone can read as "no events"; scan the recent
    * buffer for the newest informative one. */
  def latest(query: StreamingQuery): Option[FreshnessProgress] =
    query.recentProgress.reverseIterator
      .map(fromProgress)
      .find(_.maxEventTime.isDefined)

  /** Severity ladder identical to the batch gate: how stale is the stream's
    * event-time high-water mark relative to `now`? */
  def gate(fp: Option[FreshnessProgress], now: Timestamp,
      warnAfterHours: Long = 2, failAfterHours: Long = 6): GateResult =
    fp.flatMap(_.maxEventTime) match {
      case None => Fail("no event-time progress observed")
      case newest => QualityGate.freshness(newest, now, warnAfterHours, failAfterHours)
    }

  /** Always-on per-session listener: retains the newest informative
    * [[FreshnessProgress]] per query id. Register once via
    * `spark.streams.addListener(l)`; poll [[FreshnessListener.freshness]]
    * from the monitoring loop. Thread-safe — progress events arrive on the
    * listener bus thread. */
  final class FreshnessListener extends StreamingQueryListener {
    private val byQuery = new ConcurrentHashMap[java.util.UUID, FreshnessProgress]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val fp = fromProgress(e.progress)
      if (fp.maxEventTime.isDefined) byQuery.put(e.progress.id, fp)
    }

    def freshness(queryId: java.util.UUID): Option[FreshnessProgress] =
      Option(byQuery.get(queryId))
    def all: Map[java.util.UUID, FreshnessProgress] = byQuery.asScala.toMap
  }
}
