package graft

import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Http, Ingest, Warehouse}
import graft.functions.Aggregators
import graft.streaming.Streams

/** Coverage for the remaining Tier-A/B surface: HTTP sensor+extract against
  * a local server, catalog DDL, the streaming upsert sink, and the typed
  * Aggregator UDAF. */
class SurfaceSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  test("every suite shares the engine session config, whichever ran first") {
    // All suites share one test JVM and so one session. The spec's
    // session exists first; running a property of each ScalaCheck suite
    // builds theirs, which must not change the config the other suites
    // (and Verify) run under.
    import org.scalacheck.Test
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    Seq(EtlProps, DedupProps).foreach { ps =>
      val (name, prop) = ps.properties.head
      assert(Test.check(Test.Parameters.default.withMinSuccessfulTests(1),
        prop).passed, name)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4",
        s"after ${ps.name}")
    }
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "16384")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(java.util.TimeZone.getDefault.getID == "UTC")
    assert(spark.sessionState.optimizer.batches.flatMap(_.rules)
      .contains(graft.plans.JaccardSizeBoundRule))
  }

  test("HTTP sensor + extract against a live local endpoint (A1/A2)") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    val payload = """{"bitcoin": {"usd": 67210.0}, "tether": {"usd": 0.99}}"""
    server.createContext("/ping", ex => {
      val body = """{"gecko_says":"(V3) To the Moon!"}""".getBytes
      ex.sendResponseHeaders(200, body.length); ex.getResponseBody.write(body); ex.close()
    })
    server.createContext("/price", ex => {
      val body = payload.getBytes
      ex.sendResponseHeaders(200, body.length); ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      assert(Http.available(s"$base/ping", "gecko"), "sensor predicate must pass")
      assert(!Http.available(s"$base/ping", "absent-marker"))
      assert(!Http.available(s"http://localhost:1/nope", "x"), "conn refused = unavailable")
      val (code, body) = Http.get(s"$base/price")
      assert(code == 200)
      val ts = java.sql.Timestamp.valueOf("2024-01-15 12:00:00")
      val rows = Ingest.pivotPrices(spark, body, ts).collect()
      assert(rows.map(_.getString(0)).sorted.toSeq == Seq("bitcoin", "tether"))
    } finally server.stop(0)
  }

  test("warehouse DDL: ensure is idempotent, catalog and path views agree (A3)") {
    val loc = Files.createTempDirectory("graft_wh").toString + "/crypto_prices"
    Warehouse.dropTable(spark, "crypto_prices_t")
    Warehouse.ensureTable(spark, "crypto_prices_t", loc)
    Warehouse.ensureTable(spark, "crypto_prices_t", loc) // IF NOT EXISTS
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-15 12:00:00")
    Seq(("bitcoin", 1.0, ts)).toDF("crypto_id", "price_usd", "extracted_at")
      .write.mode("append").parquet(loc)
    spark.sql("REFRESH TABLE crypto_prices_t")
    assert(Warehouse.table(spark, "crypto_prices_t").count() == 1)
    assert(spark.sql("SELECT max(price_usd) FROM crypto_prices_t").head().getDouble(0) == 1.0)
    Warehouse.dropTable(spark, "crypto_prices_t")
  }

  test("streaming upsert sink is idempotent across checkpoint replays") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val table = s"$dir/table"
    def run(ckpt: String): Unit = Streams.upsertSink(
      Streams.eventsStream(spark, "/root/testdata/sf0.001")
        .select(col("event_id"), col("event_type"), col("value")),
      table, Seq("event_id"), s"$dir/$ckpt")
    run("ckpt1")
    val n1 = spark.read.parquet(table).count()
    // fresh checkpoint forces the whole backlog to replay — the sink's
    // anti-join must make the second pass a no-op
    run("ckpt2")
    val n2 = spark.read.parquet(table).count()
    val expected = Tables.events(spark, "/root/testdata/sf0.001").count()
    assert(n1 == expected && n2 == expected)
  }

  test("typed Aggregator UDAF: weighted_mean from SQL") {
    Aggregators.register(spark)
    import spark.implicits._
    Seq((10.0, 1.0), (20.0, 3.0)).toDF("v", "w").createOrReplaceTempView("wm_in")
    val got = spark.sql("SELECT weighted_mean(v, w) AS wm FROM wm_in").head().getDouble(0)
    assert(math.abs(got - 17.5) < 1e-12)
  }

  test("sketch UDAFs callable from SQL text: kll_sketch/kll_merge/kmv_sketch") {
    Aggregators.register(spark)
    import spark.implicits._
    (1 to 5000).map(i => ((i % 2).toString, i.toDouble, (i.toLong * 2654435761L) & ((1L << 56) - 1)))
      .toDF("g", "v", "h").createOrReplaceTempView("sk_in")
    // fine sketches per group from SQL, then re-aggregated with kll_merge
    // — the two-level rollup shape q308/q311 run through the typed API
    val star = spark.sql(
      """WITH fine AS (
        |  SELECT g, kll_sketch(v) AS sk FROM sk_in GROUP BY g)
        |SELECT kll_merge(sk.values, sk.weights, sk.err, sk.n) AS sk
        |FROM fine""".stripMargin).head()
    val merged = star.getStruct(0)
    assert(merged.getLong(3) == 5000, "kll_merge must preserve the count")
    assert(merged.getLong(2) > 0 && merged.getLong(2) < 5000,
      "tracked bound present and non-trivial")
    val kmv = spark.sql("SELECT kmv_sketch(h) AS sk FROM sk_in").head()
      .getStruct(0).getSeq[Long](0)
    assert(kmv.size == 64 && kmv == kmv.sorted,
      "kmv sketch must be the sorted k smallest distinct hashes")
  }

  test("salted join equals the plain join on skewed keys") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // hot key: 0 owns 90% of the large side
    val large = (0 until 2000).map(i => (if (i < 1800) 0L else i.toLong % 50, i.toLong))
      .toDF("k", "row_id")
    val small = (0 until 50).map(i => (i.toLong, s"dim_$i")).toDF("k", "attr")
    val plain = large.join(small, "k").select("k", "row_id", "attr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val salted = graft.operators.Skew.saltedJoin(large, small, "k", "row_id", 8)
      .select("k", "row_id", "attr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(salted == plain)
  }

  test("skew-safe bucket pairs equal the naive self-join on a pathological bucket") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // one boilerplate bucket holding 60% of rows, plus normal buckets;
    // maxBucketRows=1 forces EVERY bucket down the fragment-replicate path
    val rows = ((0 until 300).map(i => ("hot", i.toLong)) ++
      (300 until 500).map(i => (s"b${i % 20}", i.toLong)))
      .toDF("bucket", "doc_id")
    val naive = rows.as("a").join(rows.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val safe = graft.operators.Skew
      .hybridBucketPairs(rows, Seq("bucket"), "doc_id",
        maxBucketRows = 1, chunkSize = 50)
    val got = safe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive, s"pair sets differ: ${got.size} vs ${naive.size}")
    // the shuffle key is extended by the chunk-pair cell, so the hot
    // bucket's O(B^2) work spreads over its 6x7/2 cells
    val plan = safe.queryExecution.optimizedPlan.toString
    assert(plan.contains("__cl") && plan.contains("__cr"),
      s"chunk-cell keys missing from join:\n$plan")
  }

  test("bucket pairs carry payload columns through both routes unswapped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // payload = a per-row attribute (here sz = doc_id * 7); after the
    // canonical least/greatest swap on the hot path, sz_a must still belong
    // to id_a and sz_b to id_b
    val rows = ((0 until 120).map(i => ("hot", i.toLong, i.toLong * 7)) ++
      (120 until 200).map(i => (s"b${i % 10}", i.toLong, i.toLong * 7)))
      .toDF("bucket", "doc_id", "sz")
    val got = graft.operators.Skew
      .hybridBucketPairs(rows, Seq("bucket"), "doc_id",
        maxBucketRows = 30, chunkSize = 16, payload = Seq("sz"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(r.fieldIndex("sz_a")) == r.getLong(r.fieldIndex("id_a")) * 7)
      assert(r.getLong(r.fieldIndex("sz_b")) == r.getLong(r.fieldIndex("id_b")) * 7)
      assert(r.getLong(r.fieldIndex("id_a")) < r.getLong(r.fieldIndex("id_b")))
    }
  }

  test("two-sided hybrid bucket join equals the plain join on a hot posting list") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // corpus side: one gram with a 300-row posting list (60% of rows);
    // probe side small per gram — the cross-corpus containment shape
    val probe = (0 until 80).map(i => (i.toLong, s"g${i % 40}"))
      .toDF("doc_a", "g")
    val corpus = ((0 until 300).map(i => (1000L + i, "g7")) ++
      (300 until 500).map(i => (1000L + i, s"g${i % 40}")))
      .toDF("doc_b", "g")
    val plain = probe.join(corpus, "g").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val routed = graft.operators.Skew
      .hybridBucketJoin(probe, corpus, Seq("g"), "doc_a", "doc_b",
        maxBucketRows = 50, chunkSize = 32)
    val got = routed.select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == plain, s"pair sets differ: ${got.size} vs ${plain.size}")
    val plan = routed.queryExecution.optimizedPlan.toString
    assert(plan.contains("__kl") && plan.contains("__kr"),
      s"chunk-cell keys missing from the routed join:\n$plan")
  }

  test("ngram Jaccard join is identical through the forced skew-safe prefix path") {
    // boilerplate corpus: every doc shares one sentence (a pathological
    // shared-gram posting list), plus per-doc unique tails
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0 until 60).map { i =>
      val tail = if (i % 3 == 0) s"alpha beta gamma delta epsilon zeta $i"
      else s"unique tail number $i with extra words ${i * 31}"
      (i.toLong, s"$shared $tail")
    }.toDF("doc_id", "text")
    def run(maxBucket: Int) = graft.operators.Dedup
      .ngramJaccardJoin(docs, "doc_id", "text", n = 3, threshold = 0.5,
        skewMaxBucket = maxBucket, skewChunk = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // maxBucket=1 forces every gram bucket down fragment-replicate
    assert(run(1) == run(4096))
    assert(run(4096).nonEmpty)
  }

  test("containment join is identical through the forced skew-safe posting path") {
    import spark.implicits._
    val shared = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val corpus = (0 until 60).map { i =>
      (i.toLong, s"$shared extra corpus words ${i * 17} trailing $i")
    }.toDF("doc_id", "text")
    val probe = (0 until 12).map { i =>
      (100L + i, s"$shared extra corpus words ${i * 17}")
    }.toDF("doc_id", "text")
    def run(maxBucket: Int) = graft.operators.Dedup
      .containmentJoin(probe, corpus, "doc_id", "text", n = 3, threshold = 0.6,
        skewMaxBucket = maxBucket, skewChunk = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(1) == run(4096))
    assert(run(4096).nonEmpty)
  }

  test("hybrid bucket pairs route hot buckets skew-safe and match the naive join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = ((0 until 300).map(i => ("hot", i.toLong)) ++
      (300 until 500).map(i => (s"b${i % 20}", i.toLong)))
      .toDF("bucket", "doc_id")
    val naive = rows.as("a").join(rows.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // threshold 50: the 300-row hot bucket goes fragment-replicate, the
    // 10-row buckets go through the plain self-join
    val hybrid = graft.operators.Skew
      .hybridBucketPairs(rows, Seq("bucket"), "doc_id",
        maxBucketRows = 50, chunkSize = 50)
    val got = hybrid.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive, s"pair sets differ: ${got.size} vs ${naive.size}")
    val plan = hybrid.queryExecution.optimizedPlan.toString
    assert(plan.contains("__cl") && plan.contains("__cr"),
      s"skew path missing from the hybrid plan:\n$plan")
  }

  test("minhash near-dup output is identical through the skew-safe band path") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(maxBucket: Int) = graft.operators.Dedup
      .nearDuplicatePairs(docs, "doc_id", "text", skewMaxBucket = maxBucket,
        skewChunk = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // skewMaxBucket=1 forces EVERY band bucket down the fragment-replicate
    // path; the default keeps them all naive — outputs must coincide
    assert(pairs(1) == pairs(4096))
  }

  test("cosine-LSH output is identical through the skew-safe band path") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(maxBucket: Int) = graft.operators.Similarity
      .lshSimilarPairs(emb, 0.8, skewMaxBucket = maxBucket, skewChunk = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(1) == pairs(4096))
  }

  test("typed Dataset API: pivot yields Dataset[CryptoPrice]") {
    val ts = java.sql.Timestamp.valueOf("2024-01-15 12:00:00")
    val ds = Ingest.pivotPricesTyped(spark,
      """{"bitcoin":{"usd":67210.0}}""", ts)
    val row: graft.etl.CryptoPrice = ds.head()
    assert(row.crypto_id == "bitcoin" && row.price_usd == 67210.0 &&
      row.extracted_at == ts)
  }
}
