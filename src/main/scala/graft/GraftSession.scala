package graft

import org.apache.spark.sql.SparkSession

/** The engine's one Spark session factory. Bench, Verify, QTime and the
  * specs all build their session here, so the configuration the bench
  * times is the configuration the oracle gate verifies, by construction.
  * `cpus` is the only knob: it is a deployment setting (Bench runs
  * local[32], Verify local[4], the specs local[4]).
  *
  * `getOrCreate` semantics: within one JVM the first call fixes the master
  * and the static confs (extensions, UI); a later call re-applies the
  * runtime confs below, so a caller that changed e.g. the shuffle
  * partition count on the shared session gets the engine config back. */
object GraftSession {

  /** AQE coalescing floor (guide §2.2): the default 1 MiB
    * minPartitionSize is a bytes-per-task floor, and bytes are a poor
    * proxy for CPU at this scale — sf0.1's CPU-dense stages (decimal
    * window frames, minhash signature aggs) run ~1 CPU-second per MiB,
    * so the 1 MiB floor coalesced them to 1-3 tasks on a 32-core host
    * (measured: q150 2.33s → 0.71s, q45 2.56s → 1.68s at 16 KiB). The
    * floor only binds on small shuffles — at cluster scale the 64 MiB
    * advisory size governs and this setting is inert. */
  private val MinCoalesceBytes: Long = 16384L

  /** Artifact isolation off, for the sessions the engine derives from its
    * own: a stream drain's clone ([[graft.streaming.Streams]]) and each
    * connection session of the BI endpoint ([[graft.etl.BiServe]]). With
    * isolation on (Spark 4.1's default) every session runs its tasks under
    * its own artifact classloader, and generated code is cached by
    * (classloader, source), so each new session compiles every plan shape
    * again and runs it cold. The engine adds no session artifacts (no
    * `addArtifact`), so a derived session loses nothing by sharing the
    * default classloader and its code cache. */
  val SharedCodeCache: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  def apply(cpus: Int): SparkSession = {
    // Pin the JVM default zone too: driver-side java.sql.Timestamp
    // construction must agree with the UTC-pinned session.
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", true)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        MinCoalesceBytes)
      .config("spark.sql.session.timeZone", "UTC")
      // The custom optimizer rules and strategies are live wherever the
      // engine runs — the queries are verified and timed WITH them on.
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", false)
      // `file:` paths: chmod through NIO, not one forked process per file
      // and directory Hadoop creates (see NioLocalFileSystem).
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .getOrCreate()
  }

  /** Run `body` with `confs` set on the session; each key's previous value
    * is restored, or the key unset if it had none, afterwards. The swap is
    * session-global for the body's duration: a query planned concurrently
    * in the SAME session picks up the swapped confs, so a concurrent caller
    * passes a cloned session (`spark.newSession()`). */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(
      body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
