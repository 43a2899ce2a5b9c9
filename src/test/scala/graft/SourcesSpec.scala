package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources

class SourcesSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("csv round-trip preserves rows and schema") {
    val df = queries.Relational.q01(spark, "/root/testdata/sf0.001")
    val path = tmp("graft_csv")
    Sources.writeCsv(df, path)
    val back = Sources.readCsv(spark, path, df.schema)
    // file sources surface everything nullable; compare names + types
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("json-lines round-trip preserves rows") {
    val df = queries.Relational.q14(spark, "/root/testdata/sf0.001")
    val path = tmp("graft_json")
    Sources.writeJsonLines(df, path)
    val back = Sources.readJsonLines(spark, path, df.schema)
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("parquet round-trip preserves rows") {
    val df = queries.Relational.q12(spark, "/root/testdata/sf0.001")
    val path = tmp("graft_parq")
    Sources.writeParquet(df, path)
    assert(Sources.readParquet(spark, path).collect().toSet == df.collect().toSet)
  }

  test("orc round-trip preserves rows; filters push to the orc scan") {
    import org.apache.spark.sql.functions.col
    val df = Tables.orders(spark, "/root/testdata/sf0.001")
    val path = tmp("graft_orc")
    Sources.writeOrc(df, path)
    val back = Sources.readOrc(spark, path)
    assert(back.count() == df.count())
    val filtered = back.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"))
    assert(filtered.collect().toSet ==
      df.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice")).collect().toSet)
    val scanDesc = filtered.queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(scanDesc.contains("PushedFilters: [IsNotNull(o_orderstatus), " +
      "EqualTo(o_orderstatus,F)]"),
      s"filter must reach the orc reader:\n$scanDesc")
    // strict: the pruned 3-column struct must appear verbatim (a bare
    // "ReadSchema" fallback is always true and asserts nothing)
    assert(scanDesc.contains("struct<o_orderkey:bigint,o_orderstatus:string," +
      "o_totalprice:double>"),
      s"read schema must be pruned to the 3 used columns:\n$scanDesc")
  }

  test("partitioned write prunes untouched partitions at planning time") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", date_format(expr("timestamp_micros(ts div 1000)"), "yyyy-MM-dd"))
    val path = tmp("graft_part")
    Sources.writePartitioned(ev, path, "day")
    val days = ev.select("day").distinct().count()
    assert(days > 1, "need multiple partitions to prove pruning")
    val one = ev.select(max(col("day"))).head().getString(0)
    val pruned = Sources.readParquet(spark, path).filter(col("day") === one)
    // partition filter must reach the scan: only 1 of `days` directories read
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day#"),
      s"partition filter missing from scan:\n$scan")
    assert(pruned.count() == ev.filter(col("day") === one).count())
    val allFiles = TestPlans.prunedPartitionCount(pruned)
    assert(allFiles == 1, s"expected 1 pruned partition, scan lists $allFiles")
  }

  test("q218: dynamic partition pruning fires on the day-partitioned scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = queries.Events.q218(spark, "/root/testdata/sf0.001")
    df.collect() // runtime pruning only happens when the plan executes
    // AQE hides subtrees: AdaptiveSparkPlanExec and QueryStageExec are
    // childless wrappers — unwrap both, plus ordinary children/subqueries
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case _ => Nil
    }) ++ p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
    val fact = scans(df.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("events_by_day")))
    assert(fact.nonEmpty, "day-partitioned fact scan not found in plan")
    val scan = fact.head
    // the pruning filter must be DYNAMIC — injected by Catalyst's
    // PartitionPruning rule from the broadcast dim, not a literal
    assert(scan.partitionFilters.mkString(",").contains("dynamicpruning"),
      s"expected a dynamicpruning PartitionFilter, got: ${scan.partitionFilters}")
    // and it must have actually pruned: fewer partitions read than the
    // layout holds (numPartitions is the post-pruning driver metric)
    val layoutDays = spark.read
      .parquet(queries.Events.eventsByDayPath(spark, "/root/testdata/sf0.001"))
      .select("day").distinct().count()
    val readDays = scan.metrics("numPartitions").value
    assert(readDays > 0 && readDays < layoutDays,
      s"dynamic pruning read $readDays of $layoutDays partitions — no pruning")
  }

  test("http-json DSv2 source: one partition per url, executor-side fetch") {
    import com.sun.net.httpserver.HttpServer
    import java.net.InetSocketAddress
    import org.apache.spark.sql.functions._
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    def serve(path: String, body: String): Unit =
      server.createContext(path, exchange => {
        val bytes = body.getBytes("UTF-8")
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      })
    serve("/btc", """{"bitcoin": {"usd": 67000.5}}""")
    serve("/eth", """{"ethereum": {"usd": 3500.25}}""")
    server.start()
    val base = s"http://localhost:${server.getAddress.getPort}"
    try {
      val df = spark.read.format("http-json")
        .option("urls", s"$base/btc,$base/eth,$base/missing")
        .option("timeoutSeconds", "10")
        .load()
      assert(df.rdd.getNumPartitions == 3, "one input partition per url")
      val rows = df.collect().map(r => (r.getString(0), r.getInt(1))).toMap
      assert(rows(s"$base/btc") == 200 && rows(s"$base/eth") == 200)
      assert(rows(s"$base/missing") == 404, "404 is data, not a task failure")
      // the landing-zone body feeds the same declarative pivot as files
      val prices = df.filter(col("status") === 200)
        .select(explode(from_json(col("body"),
          "map<string, struct<usd: double>>",
          Map.empty[String, String])).as(Seq("crypto_id", "v")))
        .select(col("crypto_id"), col("v.usd").as("price_usd"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(prices == Map("bitcoin" -> 67000.5, "ethereum" -> 3500.25))
    } finally server.stop(0)
  }

  test("bucketed tables join without a shuffle exchange") {
    import org.apache.spark.sql.functions.col
    val o = Tables.orders(spark, "/root/testdata/sf0.001")
    val l = Tables.lineitem(spark, "/root/testdata/sf0.001")
    Sources.writeBucketed(o, "orders_b", "o_orderkey", 4)
    Sources.writeBucketed(l.select(col("l_orderkey"), col("l_quantity")),
      "lineitem_b", "l_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
      assert(joined.count() == l.count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("jdbc insert-if-absent is idempotent over a live embedded database") {
    // In-memory Derby stands in for the reference's Postgres warehouse:
    // same JDBC writer path (addBatch/executeBatch), real round-trip.
    // Identifiers stay uppercase — Derby folds unquoted DDL names up while
    // Spark's JDBC writer quotes the DataFrame's column names verbatim.
    val url = "jdbc:derby:memory:graftup;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE PRICES (K BIGINT NOT NULL PRIMARY KEY, V VARCHAR(32))")
      conn.createStatement().execute(
        "INSERT INTO PRICES VALUES (1, 'seed')")
      import spark.implicits._
      val incoming = Seq(
        (1L, "clobber-attempt"), // key exists → must be skipped
        (2L, "two"), (2L, "two-dup"), // in-batch dup → first occurrence only
        (3L, "three")).toDF("K", "V")
      Sources.jdbcInsertIfAbsent(spark, incoming, url, "PRICES", Seq("K"))
      Sources.jdbcInsertIfAbsent(spark, incoming, url, "PRICES", Seq("K"))
      val back = Sources.readJdbc(spark, url, "PRICES")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(back.size == 3, s"double-apply must not duplicate: $back")
      assert(back(1L) == "seed", "existing row must survive ON CONFLICT DO NOTHING")
      assert(back(3L) == "three")
    } finally {
      try java.sql.DriverManager.getConnection("jdbc:derby:memory:graftup;drop=true")
      catch { case _: java.sql.SQLException => () } // drop "fails" with 08006 on success
      conn.close()
    }
  }

  test("jdbc sink stores float4 values when the warehouse column is REAL") {
    // The reference's price column is Postgres REAL (float4); the engine
    // standardizes on double. Parity means the narrowing happens in the
    // engine before the write — values read back are exactly the float4
    // values, not doubles the remote quietly casted.
    val url = "jdbc:derby:memory:graftf4;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE FPRICES (K BIGINT NOT NULL PRIMARY KEY, P REAL)")
      import spark.implicits._
      // 0.1 and 1/3 are not float-representable: the stored value must be
      // the widened float32, not the original double
      val incoming = Seq((1L, 0.1), (2L, 1.0 / 3.0)).toDF("K", "P")
      Sources.jdbcInsertIfAbsent(spark, incoming, url, "FPRICES", Seq("K"),
        columnTypes = Map("P" -> "REAL"))
      val back = Sources.readJdbc(spark, url, "FPRICES")
        .collect().map(r => r.getLong(0) -> r.getFloat(1)).toMap
      assert(back(1L) == 0.1f && back(2L) == (1.0 / 3.0).toFloat,
        s"stored values must be float4-narrowed: $back")
      assert(back(1L).toDouble != 0.1,
        "sanity: the narrowing must actually have lost double precision")
    } finally {
      try java.sql.DriverManager.getConnection("jdbc:derby:memory:graftf4;drop=true")
      catch { case _: java.sql.SQLException => () }
      conn.close()
    }
  }

  test("z-ordered layout prunes the dimension a 1-D sort cannot") {
    // The claim z-order makes is BALANCE: a table sorted by x prunes
    // x-predicates perfectly and y-predicates not at all (every file spans
    // the whole y domain); the Morton layout keeps row-group min/max tight
    // in BOTH dimensions. The discriminating query is therefore one that
    // filters on the dimension the 1-D sort ignores: the x-sorted layout
    // must read every file, the z-layout skips most of them.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val total = li.count()
    val zdir = tmp("graft_zord")
    val xdir = tmp("graft_xord")
    sources.ZOrder.writeZOrdered(li, zdir, "l_partkey", "l_suppkey",
      bits = 6, recordsPerFile = 150)
    li.orderBy(col("l_partkey")).write.mode("overwrite")
      .option("maxRecordsPerFile", 150).parquet(xdir)
    // middle-10% band of suppkey only — the dimension x-sort cannot prune
    val b = li.agg(min("l_suppkey"), max("l_suppkey")).head()
    val (slo, shi) = (b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 45 / 100,
      b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 55 / 100)
    def scanRows(dir: String): (Long, Long) = {
      val q = spark.read.parquet(dir)
        .filter(col("l_suppkey").between(slo, shi))
      q.collect()
      val emitted = q.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f.metrics("numOutputRows").value }
        .sum
      (q.count(), emitted)
    }
    val (zMatched, zEmitted) = scanRows(zdir)
    val (xMatched, xEmitted) = scanRows(xdir)
    assert(zMatched == xMatched, "layout must not change query results")
    assert(zMatched > 0, "band query matched nothing — test is vacuous")
    assert(xEmitted == total,
      s"premise broken: the x-sorted layout should read everything, read $xEmitted/$total")
    assert(zEmitted * 2 <= xEmitted,
      s"z-order emitted $zEmitted rows vs 1-D sort $xEmitted — expected ≤ half")
  }

  test("compaction collapses a many-small-file directory without changing contents") {
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val fragmented = tmp("graft_frag")
    // simulate a per-batch append sink: 32 tiny files
    li.repartition(32).write.parquet(fragmented)
    def parquetFiles(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(parquetFiles(fragmented).length == 32)
    val compacted = tmp("graft_compact")
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val advisoryBefore = spark.conf.getOption(advisoryKey)
    Sources.compactParquet(spark, fragmented, compacted,
      targetRows = li.count(), approxRowBytes = 32)
    val after = parquetFiles(compacted)
    assert(after.length <= 4,
      s"expected <=4 files after compaction, found ${after.length}")
    // multiset compare — projected lineitem triples repeat, and a Set
    // would mask dropped or duplicated rows
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(identity).map { case (k, v) => k -> v.length }
    assert(multiset(spark.read.parquet(compacted).collect()) == multiset(li.collect()),
      "compaction must not change table contents")
    assert(spark.conf.getOption(advisoryKey) == advisoryBefore,
      "advisory-size override leaked into the session")
  }

  test("legacy TIMESTAMP(NANOS) events load via typed fallback without mutating the session") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("src/test/resources/events_nanos.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(flag)
    val ev = Tables.events(spark, dir)
    // the nanos file surfaces as the canonical long epoch-ns form
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val ts = ev.orderBy("event_id").select("ts").collect().map(_.getLong(0))
    // fixture row 1 = 2024-01-01T00:00:00 UTC, +1 minute per row
    val epoch0 = 1704067200L * 1000000000L
    assert(ts.toSeq == (0 until 5).map(i => epoch0 + i * 60L * 1000000000L),
      s"wrong nanos values: ${ts.toSeq}")
    // the fallback must run on a cloned session — the caller's conf stays
    // untouched (the round-7 ADVICE scoping contract)
    assert(spark.conf.getOption(flag) == before,
      "nanosAsLong leaked into the calling session")
  }

  test("inverted-index phrase probe is partition-pruned and answer-identical") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sf0.01: the probe phrase occurs (at sf0.001 it does not, and AQE
    // then collapses the whole probe to EmptyRelation — no scan to audit)
    val sf = "/root/testdata/sf0.01"
    val dir = tmp("graft_iidx")
    sources.InvertedIndex.build(Tables.documents(spark, sf), dir, buckets = 64)
    // driver-side bucket function must agree with the engine-side column
    // for every term actually in the index (the probe's partition filter
    // is built from the driver twin)
    val byEngine = spark.read.parquet(dir)
      .select(col("term"), col("term_bucket")).distinct().collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).longValue)
    assert(byEngine.nonEmpty)
    byEngine.foreach { case (t, b) =>
      assert(sources.InvertedIndex.bucketOf(t, 64) == b,
        s"bucket mismatch for '$t'") }
    val terms = Seq("slow", "hash", "batch")
    val probe = sources.InvertedIndex.phraseProbe(spark, dir, terms)
    val got = probe.limit(20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val viaScan = queries.Text.q152(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got.nonEmpty, "probe phrase must occur at this SF")
    assert(got == viaScan, "index path must equal the corpus-scan path")
    // pruning proof: the scan reads exactly the probed buckets' files
    probe.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findScans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case q: QueryStageExec => findScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(findScans)
    }
    val scan = findScans(probe.queryExecution.executedPlan)
    assert(scan.nonEmpty, "probe must read through a file scan")
    val filesRead = scan.map(_.metrics("numFiles").value).sum
    val probedBuckets = terms.map(sources.InvertedIndex.bucketOf(_, 64)).distinct
    def filesUnder(p: java.nio.file.Path): Long =
      java.nio.file.Files.walk(p).filter(_.toString.endsWith(".parquet")).count()
    val probedFiles = probedBuckets.map(b =>
      filesUnder(java.nio.file.Paths.get(s"$dir/term_bucket=$b"))).sum
    val totalFiles = filesUnder(java.nio.file.Paths.get(dir))
    assert(filesRead == probedFiles,
      s"scan read $filesRead files, probed partitions hold $probedFiles")
    assert(totalFiles > probedFiles * 3,
      s"premise: index must span many more partitions ($totalFiles vs $probedFiles)")
  }

  test("inverted-index append absorbs a batch without rewriting postings") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val dir = tmp("graft_iidx_incr")
    sources.InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0), dir)
    def files(): Set[String] = {
      val base = java.nio.file.Paths.get(dir)
      val it = java.nio.file.Files.walk(base)
      try it.filter(_.toString.endsWith(".parquet"))
        .map[String](_.toString).toArray.map(_.toString).toSet
      finally it.close()
    }
    val before = files()
    sources.InvertedIndex.append(docs.filter(col("doc_id") % 2 === 1), dir)
    val after = files()
    // append-only: every pre-existing posting file survives untouched
    assert(before.subsetOf(after), "append must not rewrite existing files")
    assert(after.size > before.size, "append must add new posting files")
    // maintained index answers identically to a from-scratch full build
    val full = tmp("graft_iidx_full")
    sources.InvertedIndex.build(docs, full)
    val terms = Seq("slow", "hash", "batch")
    val viaIncr = sources.InvertedIndex.phraseProbe(spark, dir, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaFull = sources.InvertedIndex.phraseProbe(spark, full, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaIncr == viaFull,
      "maintained index must equal the from-scratch build")
  }

  test("IVF-PQ vector index probe is partition-pruned and answer-identical") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val sf = "/root/testdata/sf0.001"
    val dir = tmp("graft_vidx")
    sources.VectorIndex.build(Tables.embeddings(spark, sf), dir,
      kCells = 8, cellIters = 1, m = 4, kCw = 4, pqIters = 1)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 2)
    val probe = sources.VectorIndex.probeTopK(spark, dir, queries,
      m = 4, k = 5, nprobe = 2)
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    // answer-identical to the in-plan operator on identical inputs
    val emb = Tables.embeddings(spark, sf)
    val cent = operators.Similarity.trainKMeansCells(emb, k = 8, iters = 1)
    val cells = operators.Similarity.assignKMeansCells(emb, cent)
      .select(col("vec_id"), col("cell"))
    val cb = operators.Similarity.trainPqCodebooks(emb, m = 4, k = 4, iters = 1)
    val codes = operators.Similarity.pqEncode(emb, cb, m = 4)
    val inPlan = operators.Similarity.ivfPqTopK(queries, cells, codes, cent, cb,
        m = 4, k = 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got.nonEmpty && got == inPlan,
      "staged probe must equal the in-plan IVF-PQ operator")
    // pruning proof: the codes scan reads exactly the probed cells' files
    def findScans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case q: QueryStageExec => findScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(findScans)
    }
    val codesScans = findScans(probe.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/codes")))
    assert(codesScans.nonEmpty, "probe must read the codes table")
    val filesRead = codesScans.map(_.metrics("numFiles").value).sum
    // recompute the probed cell set the way the probe did
    val probedCells = queries
      .select(col("vec_id").as("query_id"),
        functions.VectorFunctions.asDouble(col("embedding")).as("q_emb"))
      .crossJoin(broadcast(spark.read.parquet(s"$dir/centroids")))
      .withColumn("cd",
        operators.Similarity.sqDistRounded(col("q_emb"), col("centroid")))
      .withColumn("crank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cd").asc, col("cell"))))
      .filter(col("crank") <= 2).select(col("cell")).distinct()
      .collect().map(_.getAs[Number](0).longValue).toSet
    def filesUnder(p: java.nio.file.Path): Long =
      java.nio.file.Files.walk(p).filter(_.toString.endsWith(".parquet")).count()
    val probedFiles = probedCells.toSeq.map(c =>
      filesUnder(java.nio.file.Paths.get(s"$dir/codes/cell=$c"))).sum
    val totalFiles = filesUnder(java.nio.file.Paths.get(s"$dir/codes"))
    assert(filesRead == probedFiles,
      s"codes scan read $filesRead files, probed cells hold $probedFiles")
    assert(totalFiles > probedFiles,
      s"premise: some cells must be UNprobed ($totalFiles vs $probedFiles)")
  }

  test("VectorIndex.append touches only assigned cells, equals from-scratch encode") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val dir = tmp("graft_vidx_app")
    val emb = Tables.embeddings(spark, sf)
    // a small ingest batch (~1/97 of the corpus) so some cells are
    // provably untouched — the isolation claim needs unprobed territory
    val base = emb.filter(col("vec_id") % 97 =!= 3)
    val delta = emb.filter(col("vec_id") % 97 === 3)
    sources.VectorIndex.build(base, dir,
      kCells = 8, cellIters = 1, m = 4, kCw = 4, pqIters = 1)
    def listing(): Map[String, Long] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/codes"))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally walk.close()
    }
    val before = listing()
    sources.VectorIndex.append(spark, delta, dir)
    val after = listing()
    // append-only: every pre-existing code file survives byte-identical in size
    before.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz), s"append rewrote existing file $p")
    }
    // new files land ONLY under the cells the delta was assigned to
    val cent = spark.read.parquet(s"$dir/centroids")
    val touched = operators.Similarity.assignKMeansCells(delta, cent)
      .select(col("cell")).distinct()
      .collect().map(_.getAs[Number](0).longValue).toSet
    val newFiles = (after.keySet -- before.keySet).toSeq
    assert(newFiles.nonEmpty, "append must add code files")
    val cellOf = ".*cell=([0-9]+)/.*".r
    newFiles.foreach { p =>
      val cellOf(c) = p: @unchecked
      assert(touched.contains(c.toLong),
        s"append wrote $p outside the delta's assigned cells $touched")
    }
    assert(touched.size < 8,
      "premise: the delta must leave some cells untouched for the proof to bite")
    // the maintained index answers exactly like a from-scratch quantization
    // of the union under the SAME base-trained quantizers
    val queries = emb.filter(col("vec_id") < 8)
    val got = sources.VectorIndex.probeTopK(spark, dir, queries,
        m = 4, k = 5, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val cent2 = operators.Similarity.trainKMeansCells(base, k = 8, iters = 1)
    val cells2 = operators.Similarity.assignKMeansCells(emb, cent2)
      .select(col("vec_id"), col("cell"))
    val cb2 = operators.Similarity.trainPqCodebooks(base, m = 4, k = 4, iters = 1)
    val codes2 = operators.Similarity.pqEncode(emb, cb2, m = 4)
    val ref = operators.Similarity.ivfPqTopK(queries, cells2, codes2, cent2, cb2,
        m = 4, k = 5, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got.nonEmpty && got == ref,
      "maintained index must equal the from-scratch encode of the union")
  }

  test("VectorIndex.maintenancePlan fires BOTH outcomes: load-skew retrain, balanced append") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmp("graft_vidx_plan")
    // 40 vectors in 4 tight clusters at (0,0)/(10,0)/(0,10)/(10,10);
    // vec 0..3 land one per cluster so the smallest-vec_id seeding
    // separates them and one Lloyd iteration yields balanced 10/10/10/10
    def cl(i: Int): (Double, Double) = i % 4 match {
      case 0 => (0.0, 0.0); case 1 => (10.0, 0.0)
      case 2 => (0.0, 10.0); case _ => (10.0, 10.0)
    }
    val base = (0 until 40).map { i =>
      val (x, y) = cl(i); (i.toLong, Array(x + (i / 4) * 0.01, y))
    }.toDF("vec_id", "embedding")
    sources.VectorIndex.build(base, dir,
      kCells = 4, cellIters = 1, m = 2, kCw = 4, pqIters = 1)
    // batch A: 50 vectors ALL at cluster 0 — projected max cell 10+50=60,
    // load test 60*4 > 2*(40+50): retrain on balance alone (drift is
    // disabled via a huge threshold to isolate the load path)
    val skewed = (100 until 150).map(i =>
      ("a_skew", i.toLong, Array(0.02 * (i - 100) / 50.0, 0.0)))
    // batch B: 8 vectors, 2 per cluster — max 10+2=12, 12*4 <= 2*48: append
    val balanced = (200 until 208).map { i =>
      val (x, y) = cl(i); ("b_balanced", i.toLong, Array(x + 0.02, y))
    }
    val batches = (skewed ++ balanced).toDF("batch_id", "vec_id", "embedding")
    val got = sources.VectorIndex.maintenancePlan(spark, dir, batches,
        driftSqMax = 1e6, loadFactorMax = 2L).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getBoolean(4), r.getBoolean(5),
          r.getString(6)))).toMap
    assert(got("a_skew") == ((50L, 60L, false, true, "retrain")), s"$got")
    assert(got("b_balanced") == ((8L, 12L, false, false, "append")), s"$got")
  }
}
