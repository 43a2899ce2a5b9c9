package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters filled by the benchmark's listeners. Listeners run on the
  * listener-bus threads, so everything here is synchronized; `recording`
  * is only flipped after the bus has been drained, which keeps each event
  * on the side of the boundary it happened on. */
object Counters {
  @volatile var recording = false
  private val sums = mutable.HashMap.empty[String, Double]
  // last value per key (streaming state size per query run); summed by
  // prefix into the snapshot
  private val gauges = mutable.HashMap.empty[String, Double]

  def add(k: String, v: Double): Unit =
    if (recording) synchronized { sums(k) = sums.getOrElse(k, 0.0) + v }

  def gauge(prefix: String, id: String, v: Double): Unit =
    if (recording) synchronized { gauges(s"$prefix/$id") = v }

  def snapshot(): Map[String, Double] = synchronized {
    val g = gauges.groupMapReduce(_._1.takeWhile(_ != '/'))(_._2)(_ + _)
    sums.toMap ++ g
  }

  def clearGauges(): Unit = synchronized(gauges.clear())
}

/** Job, stage and task counters, keyed by Spark's own call site for the
  * per-module attribution (`jobs.<File>`, `job_s.<File>`). */
class JobListener extends SparkListener {
  private val started = new ConcurrentHashMap[Int, (Long, String)]()
  private val executionSite = new ConcurrentHashMap[Long, String]()

  // A SQL action's jobs may be submitted from Spark's own threads (adaptive
  // query stages), so its call site is taken from the execution start.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      // the JDBC endpoint sets each statement's text as its description
      val site = if (Option(s.description).exists(JobListener.Sql.matches)) "BiServe"
        else JobListener.siteFile(s.description)
      executionSite.put(s.executionId, site)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Counters.recording) {
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    // otherwise the result stage carries the job's call site as its name
    val site = execution.flatMap(id => Option(executionSite.get(id))).getOrElse(
      JobListener.siteFile(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).orNull))
    started.put(e.jobId, (e.time, site))
    Counters.add("sched.jobs", 1)
    Counters.add(s"jobs.$site", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { case (t0, site) =>
      Counters.add(s"job_s.$site", (e.time - t0) / 1e3)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Counters.add("sched.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Counters.recording) {
    Counters.add("sched.tasks", 1)
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      Counters.add("task.run_s", m.executorRunTime / 1e3)
      Counters.add("task.cpu_s", m.executorCpuTime / 1e9)
      Counters.add("task.gc_s", m.jvmGCTime / 1e3)
      Counters.add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      Counters.add("io.input_rows", m.inputMetrics.recordsRead.toDouble)
      Counters.add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      Counters.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      Counters.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Counters.add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      Counters.add("driver.result_bytes", m.resultSize.toDouble)
      if (i != null) {
        // Spark UI's scheduler delay: task wall not spent deserializing,
        // running, serializing the result or shipping it back.
        val delay = i.duration - m.executorDeserializeTime - m.executorRunTime -
          m.resultSerializationTime - i.gettingResultTime
        Counters.add("sched.delay_s", math.max(0L, delay) / 1e3)
      }
    }
  }
}

object JobListener {
  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.(?:scala|java):""".r.unanchored
  val Sql = """(?is)\s*(SELECT|WITH)\b.*""".r
  // The benchmark's own call sites (the traced tick's table read, the
  // output hash action) are reported under one name.
  private val benchFiles = Set("Main", "Trace", "EtlTicks", "BiDashboard", "BatchRounds")

  /** Call-site file named in a job's short call site, e.g. `Upsert` for
    * "count at Upsert.scala:91"; `other` when Spark gives none. */
  def siteFile(short: String): String = short match {
    case null => "other"
    case SiteFile(f) => if (benchFiles(f)) "bench" else f
    case _ => "other"
  }
}

/** Catalyst phase times of every action, in every session: registered
  * through `spark.sql.queryExecutionListeners`, so the per-connection
  * sessions of the JDBC endpoint get it too. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Counters.recording) {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => Counters.add(s"catalyst.${p}_ms", s.durationMs.toDouble))
      }
      Counters.add("catalyst.actions", 1)
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Micro-batch phases of the streaming drains; registered through
  * `spark.sql.streaming.streamingQueryListeners` for the same reason. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (Counters.recording) {
    val p = e.progress
    val d = p.durationMs.asScala
    Counters.add("stream.batches", 1)
    Seq("addBatch" -> "stream.add_batch_ms", "walCommit" -> "stream.wal_commit_ms",
      "commitOffsets" -> "stream.commit_ms").foreach { case (k, name) =>
      d.get(k).foreach(v => Counters.add(name, v.doubleValue))
    }
    Counters.gauge("stream.state_rows", p.runId.toString,
      p.stateOperators.map(_.numRowsTotal).sum.toDouble)
  }
}

/** One span: an interval of one op, under its parent (-1 for the op root). */
final case class Span(op: Int, id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    counters: Map[String, Double] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span and counter recorder for the traced run. A span's
  * counters are the listener-counter deltas over its interval; reading
  * them drains the listener bus, which the traced op pays for and which
  * the tracing-overhead figure includes. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def all: Seq[Span] = synchronized(spans.toList)

  def counters(): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Counters.snapshot()
  }

  def newId(): Int = synchronized { nextId += 1; nextId - 1 }

  def add(s: Span): Unit = synchronized { spans += s }

  def record(op: Int, parent: Int, name: String, startNs: Long, endNs: Long): Int = {
    val id = newId()
    add(Span(op, id, parent, name, startNs, endNs))
    id
  }

  /** Runs `f` (given the span id) as a span whose counters are measured
    * around it. */
  def span[A](op: Int, parent: Int, name: String)(f: Int => A): A = {
    val id = newId()
    val c0 = counters()
    val t0 = System.nanoTime()
    val r = f(id)
    val t1 = System.nanoTime()
    add(Span(op, id, parent, name, t0, t1, Tracer.delta(counters(), c0)))
    r
  }
}

object Tracer {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }.filter(_._2 != 0.0)

  /** Registers the listeners and turns recording off until an op asks. */
  def install(spark: SparkSession): Unit = {
    Counters.recording = false
    spark.sparkContext.addSparkListener(new JobListener)
  }

  /** Static confs that put the plan and streaming listeners into every
    * session, including ones created after start-up. */
  val sessionConf: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamListener].getName)

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Double)] = {
    val kids = spans.groupBy(_.parent)
    def ns(s: Span) = s.endNs - s.startNs
    spans.map(s => s -> (ns(s) - kids.getOrElse(s.id, Nil).map(ns).sum) / 1e9)
  }
}
