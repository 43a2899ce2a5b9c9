package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional trailing args: run only these query names (local fast loop);
    // the driver passes exactly two args and gets the full suite.
    val only = rest.toSet
    // The bench's session config (GraftSession): results are partitioning-
    // independent by the repo's determinism conventions, and this gate is
    // what re-proves that each round.
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Loud schema gate: a testdata regeneration that changes a table's
    // shape must be visible HERE, not as N downstream AnalysisExceptions
    // (round-6 failure mode). Drift aborts the run.
    val drift = Tables.preflight(spark, sfDir)
    drift.foreach(d => System.err.println(s"[verify] $d"))
    require(drift.isEmpty, s"testdata schema drift (${drift.size} tables) — fix Tables loaders first")
    // Fail fast on typo'd filter names: a silently-empty filtered run looks
    // like success while writing nothing.
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names in filter: ${unknown.mkString(", ")}")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Release each query's operator-persisted intermediates once its
      // output is on disk — without this the sweep accumulates every
      // query's cached stages for the session's lifetime (the
      // CacheLifecycle contract; Bench does the same via clearCache).
      CacheLifecycle.releaseAll(spark)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // In a filtered run, emit oracle SQL only for the queries actually
    // dumped — a full-suite oracle file next to a partial outDir would
    // invite a downstream compare against missing/stale parquet.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
