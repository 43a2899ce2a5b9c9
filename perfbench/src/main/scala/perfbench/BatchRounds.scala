package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheLifecycle, SparkEntry, Tables}

/** Closed-loop passes over round-based `SparkEntry` queries at sf0.1, each
  * query timed from the call that builds its DataFrame through an action
  * that hashes every output column. */
object BatchRounds {
  /** Two iterative graph operators (k-core peeling, connected components)
    * and a streaming drain: each runs many small jobs, so the per-job floor
    * dominates their wall. */
  val queries: Seq[String] = Seq(
    "q169_kcore", "q170_connected_components", "q34_stream_hourly_trend")

  /** One cold preflight and three warm ones. */
  val setupReps = 4

  /** Warm passes per second at local[4] when the benchmark was defined; a
    * run makes `seconds` times this many passes. */
  val passRate = 0.3

  def short(name: String): String = name.takeWhile(_ != '_')

  /** Order-independent digest of a result: schema, row count and the
    * exact sum of every row's xxhash64 over all columns. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(20,0)"))).head()
    val total = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${df.schema.simpleString}|${r.getLong(0)}|$total"
  }

  private def goldenFile(sfDir: String): Path =
    java.nio.file.Paths.get(sfDir).getParent.resolve("golden.tsv")

  /** name → digest of its output certified against the DuckDB oracle. */
  def golden(sfDir: String): Map[String, String] =
    scala.io.Source.fromFile(goldenFile(sfDir).toFile).getLines()
      .filter(_.nonEmpty).map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap

  /** Digests of the outputs a correctness dump wrote (one parquet directory
    * per query), written as the golden file next to the data. */
  def writeGolden(spark: SparkSession, sfDir: String, dumpDir: Path): Unit = {
    val lines = queries.map(q => s"$q\t${digest(spark.read.parquet(dumpDir.resolve(q).toString))}")
    Files.writeString(goldenFile(sfDir), lines.mkString("", "\n", "\n"))
  }

  def run(r: Run): Outcome = {
    val spark = r.spark
    val expect = golden(r.sfDir)
    val rng = new scala.util.Random(r.seed)
    // Set-up: load and schema-check every sf0.1 table.
    val setup = r.setup(setupReps) { _ =>
      val drift = Tables.preflight(spark, r.sfDir)
      r.check(drift.isEmpty, drift.mkString("; "))
    }
    def query(name: String, i: Int, tracer: Option[(Tracer, Int)]): Unit = {
      val fn = SparkEntry.queries(name)
      def go[A](span: String, parent: Int)(f: => A): A =
        tracer.fold(f) { case (tr, _) => tr.span(i, parent, span)(_ => f) }
      def body(parent: Int): Unit = {
        val df = go("build.s", parent)(fn(spark, r.sfDir))
        val got = go("action.s", parent)(digest(df))
        r.check(got == expect(name), s"$name digest $got, golden ${expect(name)}")
        // what Bench does between queries: drop this query's persisted
        // intermediates so passes do not accumulate cached state
        go("cleanup.s", parent) { CacheLifecycle.releaseAll(spark); spark.catalog.clearCache() }
      }
      tracer match {
        case None if i == -1 => r.phase(s"warmup.${short(name)}")(r.attempt(body(-1)))
        case None => r.attempt(body(-1))
        case Some((tr, root)) => r.attempt(tr.span(i, root, s"${short(name)}.s")(body))
      }
    }
    def pass(i: Int, tracer: Option[(Tracer, Int)]): Unit =
      rng.shuffle(queries).foreach(q => query(q, i, tracer))
    // Warm-up: one pass, which pays codegen (~4x a warm pass).
    r.phase("warmup")(pass(-1, None))
    val loop = r.phase("measure")(r.closedLoop(pass, r.ops(passRate)))
    val stats = Run.layerStats(r.tracer.map(_.all).getOrElse(Nil))
    Outcome(setup, loop.untraced, loop.traced, stats, Map.empty)
  }
}
