package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload hands back: set-up repetitions, op walls (untraced,
  * and traced in a traced run), the span statistics of the traced ops
  * and its own per-layer figures. */
final case class Outcome(setupS: Seq[Double], opS: Seq[Double], tracedOpS: Seq[Double],
    stats: LayerStats, layers: Map[String, Double])

/** Per-op means over the traced ops: self time and wall of each span name,
  * listener-counter deltas per span name and over the whole op, and the
  * part of the op wall no layer span covers. */
final case class LayerStats(self: Map[String, Double], wall: Map[String, Double],
    spanCounters: Map[(String, String), Double], opCounters: Map[String, Double],
    unattributed: Double) {
  def spanCounter(span: String, key: String): Double = spanCounters.getOrElse((span, key), 0.0)
}

final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Option[Tracer], val sfDir: String, root: Path) {
  var attempted = 0
  var failed = 0
  private var opFailed = false
  /** Wall of each phase of the run (set-up, warm-up, measure, ...). */
  val phases = mutable.LinkedHashMap.empty[String, Double]

  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def dir(rel: String): Path = root.resolve(rel)

  /** One checked op: counted as attempted, failed on a false check or an
    * exception. */
  def attempt(body: => Unit): Unit = {
    attempted += 1
    opFailed = false
    try body
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] op failed: $e")
      opFailed = true
    }
    if (opFailed) failed += 1
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    System.err.println(s"[perfbench] check failed: $what")
    opFailed = true
  }

  /** `reps` set-up repetitions, each timed and checked. The first runs on a
    * cold JVM and carries the JIT and codegen warm-up, so it is reported
    * apart (`setup.first_s`); `setup_s` is the median of the others. */
  def setup(reps: Int)(f: Int => Unit): Seq[Double] =
    phase("setup")((0 until reps).map(rep => Run.timed(attempt(f(rep)))))

  /** How many ops of a workload `seconds` stands for: `rate` ops per second
    * is the workload's warm rate measured when the benchmark was defined,
    * so every run does the same work however fast the host is. */
  def ops(rate: Double, unit: Int = 1): Int =
    unit * math.max(1, math.round(seconds * rate / unit).toInt)

  /** Closed loop of `n` ops: each op starts when the previous one ends (ops
    * count their own attempts). A traced run makes `2 n` ops, alternating
    * untraced and traced, so the two halves see the same state and their
    * walls give the tracing overhead. */
  def closedLoop(op: (Int, Option[(Tracer, Int)]) => Unit, n: Int): Run.Loop = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until (if (tracer.isDefined) 2 * n else n)) {
      tracer.filter(_ => i % 2 == 1) match {
        case None =>
          val t0 = System.nanoTime()
          op(i, None)
          plain += (System.nanoTime() - t0) / 1e9
        case Some(tr) =>
          val c0 = tr.counters()
          Counters.recording = true
          val id = tr.newId()
          val t0 = System.nanoTime()
          op(i, Some((tr, id)))
          val t1 = System.nanoTime()
          val d = Tracer.delta(tr.counters(), c0)
          Counters.recording = false
          Counters.clearGauges()
          tr.add(Span(i, id, -1, "op", t0, t1, d))
          traced += (t1 - t0) / 1e9
      }
    }
    Run.Loop(plain.toList, traced.toList)
  }
}

object Run {
  final case class Loop(untraced: Seq[Double], traced: Seq[Double])

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def layerStats(spans: Seq[Span]): LayerStats = {
    val roots = spans.filter(_.parent == -1)
    val n = math.max(1, roots.size)
    val kids = spans.filter(_.parent != -1)
    val self = Tracer.selfTimes(spans)
    def mean[K](xs: Seq[(K, Double)]): Map[K, Double] =
      xs.groupMapReduce(_._1)(_._2)(_ + _).map { case (k, v) => k -> v / n }
    LayerStats(
      mean(self.collect { case (s, v) if s.parent != -1 => s.name -> v }),
      mean(kids.map(s => s.name -> s.seconds)),
      mean(kids.flatMap(s => s.counters.map { case (k, v) => (s.name, k) -> v })),
      mean(roots.flatMap(_.counters.toSeq)),
      self.collect { case (s, v) if s.parent == -1 => v }.sum / n)
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** Benchmark entry point. `run.py` builds this and calls it once per run:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <sf dir> <run dir>
  *
  * It writes `result.json` (metrics, attempted, failed) and, in a traced
  * run, `spans.json` into the run directory. */
object Main {
  val workloads: Map[String, Run => Outcome] = Map(
    "etl_ticks" -> EtlTicks.run,
    "bi_dashboard" -> BiDashboard.run,
    "batch_rounds" -> BatchRounds.run)

  def session(cpus: Int, root: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16384")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("local").toString)
    if (trace) Tracer.sessionConf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val Array(workload, seedArg, secondsArg, traceArg, sfDir, rootArg) = args
    val root = Paths.get(rootArg).toAbsolutePath
    val trace = traceArg == "1"
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val t0 = System.nanoTime()
    val spark = session(cpus, root, trace)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (workload == "golden") {
      BatchRounds.writeGolden(spark, sfDir, Paths.get(rootArg))
      spark.stop()
      return
    }
    val tracer = if (trace) { Tracer.install(spark); Some(new Tracer(spark)) } else None
    val run = new Run(spark, seedArg.toLong, secondsArg.toDouble, tracer, sfDir, root)
    val out = workloads(workload)(run)
    val rssMb = peakRssMb()
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics("setup_s") = (Run.quantile(out.setupS.drop(1), 0.5), "s")
    metrics("op_p50_s") = (Run.quantile(out.opS, 0.5), "s")
    metrics("op_p90_s") = (Run.quantile(out.opS, 0.9), "s")
    val layers = if (trace) Report.perLayer(out, run, rssMb) else Map.empty[String, (Double, String)]
    val context = Report.context(spark, sessionS, out) + ("phases_s" -> run.phases)
    Files.writeString(root.resolve("result.json"), Report.json(Map(
      "correct" -> (run.failed == 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> (if (trace) layers else metrics.toMap).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "context" -> context)))
    tracer.foreach(t => Files.writeString(root.resolve("spans.json"), Report.spansJson(t.all)))
    // Exit without Spark's shutdown sequence: it closes the JDBC
    // endpoint's sessions, and each close retries the unconfigured Hive
    // metastore for ~20 s. Scratch files are removed by run.py.
    Runtime.getRuntime.halt(0)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
}
