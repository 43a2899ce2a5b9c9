package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.etl.{Ingest, Pipeline, QualityGate, Schemas, Upsert, Warehouse}

/** One generated tick: the payload and clock the program receives, and
  * what the generator knows the outcome must be. */
final case class Tick(kind: String, payload: String, batchTs: Timestamp, now: Timestamp,
    offered: Int, expectInserted: Long, expectGate: String)

/** Seeded CoinGecko-shaped tick stream (`/simple/price`: coin → {currency →
  * price}). A universe of 260 coin ids, each listed in a tick with
  * probability 0.96 (one 250-wide API page on average), prices on a
  * log-normal random walk. After the bootstrap tick, ticks come in blocks
  * of five with a fixed mix — 3 fresh hours, 1 hour that arrives 3–5 h
  * late (the gate must Warn) and 1 replay of an earlier payload (must
  * insert 0 rows) — in seeded order. */
final class TickGen(seed: Long) {
  private val rng = new scala.util.Random(seed)
  private val coins = Vector.tabulate(260)(i => f"coin-$i%03d")
  private val price = Array.fill(coins.size)(math.exp(rng.nextDouble() * 20 - 9))
  private val hour0 = 1704067200000L // 2024-01-01T00:00:00Z
  private var hour = 0
  private var maxTs = Long.MinValue
  private val history = mutable.ArrayBuffer.empty[Tick]
  private val pending = mutable.Queue.empty[String]
  val minute = 60000L
  val hourMs = 3600000L

  private def payload(): (String, Int) = {
    val listed = coins.indices.filter(_ => rng.nextDouble() < 0.96)
    listed.foreach(i => price(i) *= math.exp(0.01 * rng.nextGaussian()))
    val body = listed.map { i =>
      // a few coins carry a second quote currency, which the pivot drops
      val eur = if (i % 37 == 0) s""","eur":${price(i) * 0.92}""" else ""
      s""""${coins(i)}":{"usd":${price(i)}$eur}"""
    }.mkString("{", ",", "}")
    (body, listed.size)
  }

  /** Gate verdict the program must return: staleness of the newest row
    * against `now`, on the same whole-hour ladder as the reference checks. */
  private def verdict(now: Long, newest: Long): String = {
    val staleH = (now - newest) / hourMs
    if (staleH > 6) "fail" else if (staleH > 2) "warn" else "pass"
  }

  val blockSize = 5

  /** The first tick: a fresh hour into an empty table. */
  def bootstrap(): Tick = make("fresh")

  def next(): Tick = {
    if (pending.isEmpty)
      pending ++= rng.shuffle(Seq.fill(blockSize - 2)("fresh") ++ Seq("stale", "replay"))
    make(pending.dequeue())
  }

  private def make(kind: String): Tick = {
    val t = if (kind == "replay") {
      val old = history(rng.nextInt(history.size))
      val now = maxTs + (1 + rng.nextInt(20)) * minute
      old.copy(kind = kind, now = new Timestamp(now), expectInserted = 0L,
        expectGate = verdict(now, maxTs))
    } else {
      val (body, n) = payload()
      val ts = hour0 + hour * hourMs
      hour += 1
      val late = if (kind == "stale") (3 * 60 + rng.nextInt(120)) * minute else 0L
      val now = ts + late + (1 + rng.nextInt(20)) * minute
      maxTs = math.max(maxTs, ts)
      val t = Tick(kind, body, new Timestamp(ts), new Timestamp(now), n, n.toLong,
        verdict(now, maxTs))
      history += t
      t
    }
    t
  }

  def coinIds: Vector[String] = coins
}

object EtlTicks {
  /** One cold bootstrap and three warm ones. */
  val setupReps = 4

  /** Warm ticks per second at local[4] when the benchmark was defined; a
    * run makes `seconds` times this many ticks, in whole blocks, so the
    * table grows by the same number of files on every run. */
  val tickRate = 1.5

  def gateName(g: QualityGate.GateResult): String = g match {
    case QualityGate.Pass => "pass"
    case _: QualityGate.Warn => "warn"
    case _: QualityGate.Fail => "fail"
  }

  /** Parquet files and bytes of a warehouse table directory. */
  def layout(dir: Path): (Int, Long) = {
    val files = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    (files.size, files.map(Files.size).sum)
  }

  /** Closed loop, one writer: each tick is one `Pipeline.run` into a
    * warehouse table created fresh for the run. A traced tick makes the
    * same calls as `Pipeline.run`, one span per layer. */
  def run(r: Run): Outcome = {
    val spark = r.spark
    val gen = new TickGen(r.seed)
    val first = gen.bootstrap()
    var path = ""
    // Set-up: bootstrap a fresh table with the first tick and register it
    // in the catalog; repeated, and the last bootstrap is the one used.
    val setup = r.setup(setupReps) { rep =>
      path = r.dir(s"warehouse/crypto_prices_$rep").toString
      val res = Pipeline.run(spark, first.payload, first.batchTs, path, first.now)
      Warehouse.ensureTable(spark, s"crypto_prices_$rep", path)
      r.check(res.rowsInserted == first.expectInserted && gateName(res.gate) == first.expectGate,
        s"bootstrap inserted ${res.rowsInserted}, gate ${gateName(res.gate)}")
    }
    var inserted = first.expectInserted
    var offered = 0L
    var offeredInserted = 0L
    def tick(i: Int, tracer: Option[(Tracer, Int)]): Unit = r.attempt {
      val t = gen.next()
      val (ins, gate) = tracer match {
        case None =>
          val res = Pipeline.run(spark, t.payload, t.batchTs, path, t.now)
          (res.rowsInserted, res.gate)
        case Some((tr, root)) =>
          val batch = tr.span(i, root, "ingest.s") { _ =>
            require(Ingest.preflight(() => true, attempts = 1, delayMillis = 0L))
            Ingest.pivotPrices(spark, t.payload, t.batchTs)
          }
          val n = tr.span(i, root, "upsert.s")(_ =>
            Upsert.intoParquet(spark, batch, path, Schemas.priceKeys))
          val table = tr.span(i, root, "warehouse.read_s")(_ => spark.read.parquet(path))
          val g = tr.span(i, root, "gate.s")(_ => QualityGate.enforce(table, t.now))
          offered += t.offered
          offeredInserted += n
          (n, g)
      }
      inserted += ins
      r.check(ins == t.expectInserted && gateName(gate) == t.expectGate,
        s"${t.kind} tick at ${t.batchTs}: inserted $ins of ${t.expectInserted}, " +
          s"gate ${gateName(gate)} vs ${t.expectGate}")
    }
    // Warm-up: one block; the first warm ticks still run ~1.5x slower
    // than later ones.
    r.phase("warmup")((0 until gen.blockSize).foreach(i => tick(-1 - i, None)))
    val loop = r.phase("measure")(r.closedLoop(tick, r.ops(tickRate, gen.blockSize)))
    // The finished table: every generated key exactly once.
    r.phase("check")(r.attempt {
      val t = spark.read.parquet(path)
      val n = t.count()
      val keys = t.select(Schemas.priceKeys.map(org.apache.spark.sql.functions.col): _*)
        .distinct().count()
      r.check(n == inserted && keys == n, s"final table: $n rows, $keys keys, expected $inserted")
    })
    val (files, bytes) = layout(java.nio.file.Paths.get(path))
    val stats = Run.layerStats(r.tracer.map(_.all).getOrElse(Nil))
    val layers = Map(
      "upsert.existing_rows_read" -> stats.spanCounter("upsert.s", "io.input_rows"),
      "upsert.useful_ratio" -> (if (offered > 0) offeredInserted.toDouble / offered else 0.0),
      "gate.rows_scanned" -> stats.spanCounter("gate.s", "io.input_rows"),
      "warehouse.files" -> files.toDouble,
      "warehouse.bytes_per_row" -> bytes.toDouble / math.max(1L, inserted))
    Outcome(setup, loop.untraced, loop.traced, stats, layers)
  }
}
