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
      .getOrCreate()
  }
}
