package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The per-layer metric set (every name on every workload, 0 where the
  * workload does not exercise the layer), run context and JSON output. */
object Report {
  /** Layer spans the benchmark opens around its calls; reported as mean
    * self time per traced op. */
  val layerSpans: Seq[String] = Seq("ingest.s", "upsert.s", "warehouse.read_s", "gate.s",
    "bi.queue_wait_s", "bi.exec_s", "bi.fetch_s", "build.s", "action.s", "cleanup.s")

  /** Spans whose Spark jobs are reported as `<name>.jobs`. */
  val jobSpans: Seq[String] = Seq("ingest", "upsert", "gate", "build")

  /** Listener counters, as mean per traced op. */
  val counters: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "stream.batches" -> "count", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_ms" -> "ms", "stream.state_rows" -> "rows",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.delay_s" -> "s",
    "task.run_s" -> "s", "task.cpu_s" -> "s", "task.gc_s" -> "s",
    "io.input_bytes" -> "bytes", "io.output_bytes" -> "bytes",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
    "spill.bytes" -> "bytes", "driver.result_bytes" -> "bytes")

  /** Figures a workload computes itself. */
  val workloadLayers: Seq[(String, String)] = Seq(
    "upsert.existing_rows_read" -> "rows", "upsert.useful_ratio" -> "ratio",
    "gate.rows_scanned" -> "rows", "warehouse.files" -> "count",
    "warehouse.bytes_per_row" -> "bytes", "bi.rows_returned" -> "rows", "gen.late_s" -> "s")

  /** Call-site files jobs are attributed to: any other file counts as
    * `other`, the benchmark's own call sites as `bench` and statements
    * sent over JDBC as `BiServe`. */
  val siteFiles: Seq[String] = Seq("Ingest", "Upsert", "QualityGate", "BiServe", "Graph",
    "CoPurchase", "Dedup", "Streams", "bench", "other")

  def perLayer(out: Outcome, run: Run, rssMb: Double): Map[String, (Double, String)] = {
    val st = out.stats
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    layerSpans.foreach(n => m(n) = (st.self.getOrElse(n, 0.0), "s"))
    jobSpans.foreach(n => m(s"$n.jobs") = (st.spanCounter(s"$n.s", "sched.jobs"), "count"))
    BatchRounds.queries.map(BatchRounds.short).foreach { q =>
      m(s"$q.s") = (st.wall.getOrElse(s"$q.s", 0.0), "s")
      m(s"$q.jobs") = (st.spanCounter(s"$q.s", "sched.jobs"), "count")
    }
    counters.foreach { case (n, u) => m(n) = (st.opCounters.getOrElse(n, 0.0), u) }
    workloadLayers.foreach { case (n, u) => m(n) = (out.layers.getOrElse(n, 0.0), u) }
    def site(prefix: String): Map[String, Double] =
      st.opCounters.collect { case (k, v) if k.startsWith(prefix) =>
        val f = k.stripPrefix(prefix)
        (if (siteFiles.contains(f)) f else "other") -> v
      }.groupMapReduce(_._1)(_._2)(_ + _)
    val jobs = site("jobs.")
    val jobS = site("job_s.")
    siteFiles.foreach { f =>
      m(s"jobs.$f") = (jobs.getOrElse(f, 0.0), "count")
      m(s"job_s.$f") = (jobS.getOrElse(f, 0.0), "s")
    }
    val plain = Run.quantile(out.opS, 0.5)
    m("op.traced_s") = (Run.quantile(out.tracedOpS, 0.5), "s")
    m("op.unattributed_s") = (st.unattributed, "s")
    m("trace.overhead_ratio") =
      (if (plain > 0 && out.tracedOpS.nonEmpty) Run.quantile(out.tracedOpS, 0.5) / plain - 1
        else 0.0, "ratio")
    m("setup.first_s") = (out.setupS.headOption.getOrElse(0.0), "s")
    m("peak_rss_mb") = (rssMb, "MB")
    m("ops_attempted") = (run.attempted.toDouble, "count")
    m("failed_ops_ratio") = (run.failed.toDouble / math.max(1, run.attempted), "ratio")
    m.toMap
  }

  def context(spark: SparkSession, sessionS: Double, out: Outcome): Map[String, Any] =
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.driver.memory" },
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "session_start_s" -> sessionS,
      "setup_reps_s" -> out.setupS,
      "op_s" -> out.opS,
      "traced_op_s" -> out.tracedOpS)

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  def spansJson(spans: Seq[Span]): String = json(spans.map(s => Map(
    "op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counters" -> s.counters)))
}
