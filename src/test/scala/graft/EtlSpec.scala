package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import graft.etl._

class EtlSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private val ts = Timestamp.valueOf("2024-01-15 12:00:00")

  test("pivot transposes the CoinGecko map shape and keeps only usd") {
    val df = Ingest.pivotPrices(spark,
      """{"bitcoin":{"usd":67210.0},"ethereum":{"usd":3245.12,"eur":1.0}}""", ts)
    val rows = df.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rows == Map("bitcoin" -> 67210.0, "ethereum" -> 3245.12))
    assert(df.columns.toSeq == Seq("crypto_id", "price_usd", "extracted_at"))
  }

  test("pivot raises on empty payload (reference :45-46 semantics)") {
    intercept[IllegalArgumentException] {
      Ingest.pivotPrices(spark, "{}", ts)
    }
  }

  test("upsert is idempotent: same batch twice leaves one row per key") {
    val batch = Ingest.pivotPrices(spark,
      """{"bitcoin":{"usd":1.0},"tether":{"usd":0.99}}""", ts)
    val once = Upsert(batch.limit(0), batch, Schemas.priceKeys)
    val twice = Upsert(once, batch, Schemas.priceKeys)
    assert(once.count() == 2 && twice.count() == 2)
  }

  test("upsert keeps existing row on key conflict (DO NOTHING, not UPDATE)") {
    import spark.implicits._
    val existing = Seq(("bitcoin", 1.0, ts)).toDF("crypto_id", "price_usd", "extracted_at")
    val incoming = Seq(("bitcoin", 999.0, ts), ("solana", 2.0, ts))
      .toDF("crypto_id", "price_usd", "extracted_at")
    val after = Upsert(existing, incoming, Schemas.priceKeys)
    val m = after.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m == Map("bitcoin" -> 1.0, "solana" -> 2.0))
  }

  test("upsert drops null-key rows (PK NOT NULL) so replays stay idempotent") {
    import spark.implicits._
    val incoming = Seq(
      (Some("bitcoin"), 1.0, Some(ts)),
      (None: Option[String], 2.0, Some(ts)), // null key: would dodge the anti-join
      (Some("solana"), 3.0, None: Option[java.sql.Timestamp]))
      .toDF("crypto_id", "price_usd", "extracted_at")
    val once = Upsert(incoming.limit(0), incoming, Schemas.priceKeys)
    val twice = Upsert(once, incoming, Schemas.priceKeys)
    assert(once.count() == 1 && twice.count() == 1,
      "null-keyed rows must not accumulate across replays")
  }

  test("partitioned upsert prunes the existing side to touched partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_pup").toString + "/t"
    val keys = Seq("crypto_id", "day")
    val seed = Seq(
      ("bitcoin", "2024-01-01", 1.0), ("bitcoin", "2024-01-02", 2.0),
      ("bitcoin", "2024-01-03", 3.0), ("tether", "2024-01-01", 0.99))
      .toDF("crypto_id", "day", "price_usd")
    assert(Upsert.intoPartitionedParquet(spark, seed, dir, keys, "day") == 4)
    // batch touches ONLY day 2024-01-02: one dup key + one new key
    val batch = Seq(
      ("bitcoin", "2024-01-02", 999.0), ("solana", "2024-01-02", 5.0))
      .toDF("crypto_id", "day", "price_usd")
    assert(Upsert.intoPartitionedParquet(spark, batch, dir, keys, "day") == 1)
    assert(Upsert.intoPartitionedParquet(spark, batch, dir, keys, "day") == 0) // replay
    val after = spark.read.parquet(dir)
    assert(after.count() == 5)
    val btc2 = after.filter(col("crypto_id") === "bitcoin" && col("day") === "2024-01-02")
      .head().getAs[Double]("price_usd")
    assert(btc2 == 2.0, "DO NOTHING semantics: existing row survives")
    // planning-time pruning: the isin filter the upsert applies must list
    // exactly ONE of the three day= directories
    val prunedScan = spark.read.parquet(dir).filter(col("day").isin("2024-01-02"))
    val files = TestPlans.prunedPartitionCount(prunedScan)
    assert(files == 1, s"expected 1 pruned partition, scan lists $files")
  }

  test("gate severity ladder: pass / warn (>2h) / fail (>6h) / negative / dup") {
    import spark.implicits._
    def table(price: Double, ageHours: Int, id: String = "bitcoin") = {
      val t = new Timestamp(ts.getTime - ageHours * 3600000L)
      Seq((id, price, t)).toDF("crypto_id", "price_usd", "extracted_at")
    }
    assert(QualityGate.evaluate(table(1.0, 1), ts) == QualityGate.Pass)
    // exactly 2h is not stale (warn is strictly greater-than, checks.yml:8)
    assert(QualityGate.evaluate(table(1.0, 2), ts) == QualityGate.Pass)
    assert(QualityGate.evaluate(table(1.0, 3), ts).isInstanceOf[QualityGate.Warn])
    assert(QualityGate.evaluate(table(1.0, 6), ts).isInstanceOf[QualityGate.Warn])
    assert(QualityGate.evaluate(table(1.0, 7), ts).isInstanceOf[QualityGate.Fail])
    assert(QualityGate.evaluate(table(-0.0001, 1), ts).isInstanceOf[QualityGate.Fail])
    // the reference's REAL (float4) price column
    assert(QualityGate.evaluate(Ingest.float4Compat(table(1.0, 1)), ts) == QualityGate.Pass)
    assert(QualityGate.evaluate(Ingest.float4Compat(table(-1.0, 1)), ts)
      .isInstanceOf[QualityGate.Fail])
    val dup = table(1.0, 1).union(table(2.0, 1))
    assert(QualityGate.evaluate(dup, ts).isInstanceOf[QualityGate.Fail])
    val twoDups = dup.union(table(1.0, 1, "tether")).union(table(3.0, 1, "tether"))
      .union(table(1.0, 1, "solana"))
    val got = QualityGate.evaluate(twoDups, ts)
    assert(got.isInstanceOf[QualityGate.Fail] && got.message.startsWith("2 duplicate"), got)
    assert(QualityGate.evaluate(table(1.0, 1).limit(0), ts) == QualityGate.Fail("empty table"))
    intercept[IllegalStateException] { QualityGate.enforce(table(1.0, 7), ts) }
  }

  test("end-to-end pipeline run writes, gates, and replays idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe").toString + "/t"
    val json = """{"bitcoin":{"usd":67210.0},"tether":{"usd":0.99}}"""
    val now = new Timestamp(ts.getTime + 3600000L)
    val r1 = Pipeline.run(spark, json, ts, dir, now)
    assert(r1.rowsInserted == 2 && r1.gate == QualityGate.Pass)
    val r2 = Pipeline.run(spark, json, ts, dir, now) // replay, same batch ts
    assert(r2.rowsInserted == 0 && r2.table.count() == 2)
  }

  test("pipeline run into a table directory holding no data file inserts and gates") {
    // a crashed first write leaves only _temporary/ behind
    val dir = Files.createTempDirectory("graft_pipe_tmp").toString + "/t"
    Files.createDirectories(Paths.get(dir, "_temporary", "0"))
    val json = """{"bitcoin":{"usd":67210.0},"tether":{"usd":0.99}}"""
    val now = new Timestamp(ts.getTime + 3600000L)
    val r = Pipeline.run(spark, json, ts, dir, now)
    assert(r.rowsInserted == 2 && r.gate == QualityGate.Pass && r.table.count() == 2)
  }

  test("upsert into a table holding a corrupt data file aborts and writes nothing") {
    val dir = Files.createTempDirectory("graft_pipe_bad").toString
    val garbage = Paths.get(dir, "part-0.parquet")
    Files.write(garbage, "not a parquet file".getBytes("UTF-8"))
    val batch = Ingest.pivotPrices(spark, """{"bitcoin":{"usd":1.0}}""", ts)
    intercept[org.apache.spark.SparkException] {
      Upsert.intoParquet(spark, batch, dir, Schemas.priceKeys)
    }
    val left = Files.list(Paths.get(dir)).count()
    assert(left == 1L, s"$left entries in the table directory, expected only the corrupt file")
  }

  test("a warm pipeline tick runs at most 4 Spark jobs; a replay at most 3, writing no file") {
    val dir = Files.createTempDirectory("graft_pipe_jobs").toString + "/t"
    val json = """{"bitcoin":{"usd":67210.0},"tether":{"usd":0.99},"solana":{"usd":98.5}}"""
    def hour(h: Int) = new Timestamp(ts.getTime + h * 3600000L)
    def parquetFiles() = Files.list(Paths.get(dir)).toArray
      .count(_.toString.endsWith(".parquet"))
    Pipeline.run(spark, json, hour(0), dir, hour(1)) // creates the table
    Pipeline.run(spark, json, hour(1), dir, hour(2)) // warms the tick's code paths
    val (fresh, freshJobs) = org.apache.spark.JobCount(spark.sparkContext) {
      Pipeline.run(spark, json, hour(2), dir, hour(3))
    }
    assert(fresh.rowsInserted == 3 && fresh.gate == QualityGate.Pass)
    assert(freshJobs <= 4, s"fresh tick ran $freshJobs jobs")
    val files = parquetFiles()
    val (replay, replayJobs) = org.apache.spark.JobCount(spark.sparkContext) {
      Pipeline.run(spark, json, hour(2), dir, hour(3))
    }
    assert(replay.rowsInserted == 0 && replay.gate == QualityGate.Pass)
    assert(replayJobs <= 3, s"replay ran $replayJobs jobs")
    assert(parquetFiles() == files, "a replay must add no parquet file")
  }

  test("each tick appends one parquet file while the table outgrows one partition") {
    val dir = Files.createTempDirectory("graft_pipe_files").toString + "/t"
    val json = (0 until 250).map(i => f""""coin-$i%03d":{"usd":${i + 1.5}}""")
      .mkString("{", ",", "}")
    def hour(h: Int) = new Timestamp(ts.getTime + h * 3600000L)
    // from the 7th tick on, the pass over table and batch spans 2+ partitions
    val files = (0 until 10).map { h =>
      Pipeline.run(spark, json, hour(h), dir, hour(h + 1))
      Files.list(Paths.get(dir)).toArray.count(_.toString.endsWith(".parquet"))
    }
    assert(files == (1 to 10), s"parquet files after each tick: $files")
  }

  test("the tick's gate catches a duplicate key a foreign writer planted") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pipe_foreign").toString + "/t"
    val json = """{"bitcoin":{"usd":67210.0},"tether":{"usd":0.99}}"""
    def hour(h: Int) = new Timestamp(ts.getTime + h * 3600000L)
    assert(Pipeline.run(spark, json, hour(0), dir, hour(1)).gate == QualityGate.Pass)
    Seq(("bitcoin", 1.0, hour(0))).toDF("crypto_id", "price_usd", "extracted_at")
      .write.mode("append").parquet(dir)
    val err = intercept[IllegalStateException] {
      Pipeline.run(spark, json, hour(1), dir, hour(2))
    }
    val want = QualityGate.evaluate(spark.read.parquet(dir), hour(2))
    assert(want.isInstanceOf[QualityGate.Fail] && want.message.startsWith("1 duplicate"), want)
    assert(err.getMessage == s"quality gate failed: ${want.message}", err.getMessage)
  }

  test("a negative price fails the tick's gate after the append") {
    val dir = Files.createTempDirectory("graft_pipe_neg").toString + "/t"
    def hour(h: Int) = new Timestamp(ts.getTime + h * 3600000L)
    Pipeline.run(spark, """{"bitcoin":{"usd":67210.0}}""", hour(0), dir, hour(1))
    val err = intercept[IllegalStateException] {
      Pipeline.run(spark, """{"bitcoin":{"usd":-1.5},"tether":{"usd":0.99}}""",
        hour(1), dir, hour(2))
    }
    assert(err.getMessage == "quality gate failed: min(price_usd) = -1.5 < 0.0", err.getMessage)
    assert(spark.read.parquet(dir).count() == 3, "the gate runs after the append")
  }

  test("pre-flight retries then gives up (A1 sensor semantics)") {
    var calls = 0
    val ok = Ingest.preflight(() => { calls += 1; calls >= 3 },
      attempts = 6, delayMillis = 0L)
    assert(ok && calls == 3)
    assert(!Ingest.preflight(() => false, attempts = 2, delayMillis = 0L))
  }

  test("declarative check config: parses the reference dialect and drives the gate") {
    import spark.implicits._
    val yaml =
      """checks for crypto_prices:
        |  # price can never be negative
        |  - min(price_usd):
        |      fail: when < 0
        |
        |  # freshness: data may not be older than 2 hours
        |  - freshness(extracted_at):
        |      warn: when > 2h
        |      fail: when > 6h
        |""".stripMargin
    val spec = QualityConfig.parse(yaml)
    assert(spec.table == "crypto_prices")
    assert(spec.minRule.contains(QualityConfig.MinRule("price_usd", 0.0)))
    assert(spec.freshness.contains(QualityConfig.FreshnessRule("extracted_at", 2L, 6L)))
    def table(price: Double, ageHours: Int) = {
      val t = new Timestamp(ts.getTime - ageHours * 3600000L)
      Seq(("bitcoin", price, t)).toDF("crypto_id", "price_usd", "extracted_at")
    }
    assert(QualityConfig.evaluate(table(1.0, 1), spec, ts) == QualityGate.Pass)
    assert(QualityConfig.evaluate(table(1.0, 3), spec, ts).isInstanceOf[QualityGate.Warn])
    assert(QualityConfig.evaluate(table(-0.5, 1), spec, ts).isInstanceOf[QualityGate.Fail])
    intercept[IllegalArgumentException] { QualityConfig.parse("checks for t:\n  - bogus(x):") }
  }

  test("quarantine retains malformed JSON verbatim and parses clean rows") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = new StructType().add("a", LongType).add("b", StringType)
    val raw = Seq(
      ("s1", """{"a":1,"b":"x"}"""),
      ("s1", """{"a":2,"b":"""),   // truncated mid-object
      ("s2", """not json at all"""),
      ("s2", """{"a":3,"b":"y"}""")).toDF("src", "body")
    val parsed = etl.Quarantine.parseJson(raw, "body", schema)
    val rows = parsed
      .select($"body", $"parsed.a", $"parsed._corrupt_record")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        Option(r.getString(2)))).toSet
    assert(rows == Set(
      ("""{"a":1,"b":"x"}""", 1L, None),
      ("""{"a":2,"b":""", -1L, Some("""{"a":2,"b":""")),
      ("""not json at all""", -1L, Some("""not json at all""")),
      ("""{"a":3,"b":"y"}""", 3L, None)))
  }

  test("quarantine CSV parse flags type-corrupt rows, keeps clean ones") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = new StructType().add("a", LongType).add("b", LongType)
    val raw = Seq("1,2", "oops,4", "5,6").toDF("body")
    val parsed = etl.Quarantine.parseCsv(raw, "body", schema)
    val got = parsed.select($"parsed.a", $"parsed._corrupt_record")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        Option(r.getString(1)))).toSet
    assert(got == Set((1L, None), (-1L, Some("oops,4")), (5L, None)))
  }

  test("quarantine stats gate: fail trumps warn trumps pass") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = new StructType().add("a", LongType)
    def batch(goodPerBad: Map[String, (Int, Int)]) = {
      val rows = goodPerBad.toSeq.flatMap { case (src, (good, bad)) =>
        Seq.fill(good)((src, """{"a":1}""")) ++ Seq.fill(bad)((src, "{"))
      }
      etl.Quarantine.parseJson(rows.toDF("src", "body"), "body", schema)
    }
    val dirty = etl.Quarantine.stats(batch(Map("s1" -> (8, 2), "s2" -> (99, 1))),
      "src", warnPpm = 5000L, failPpm = 100000L)
    assert(etl.Quarantine.gate(dirty).isInstanceOf[etl.QualityGate.Fail])
    val warned = etl.Quarantine.stats(batch(Map("s2" -> (99, 1))),
      "src", warnPpm = 5000L, failPpm = 100000L)
    assert(etl.Quarantine.gate(warned).isInstanceOf[etl.QualityGate.Warn])
    val clean = etl.Quarantine.stats(batch(Map("s3" -> (10, 0))),
      "src", warnPpm = 5000L, failPpm = 100000L)
    assert(etl.Quarantine.gate(clean) == etl.QualityGate.Pass)
  }
}
