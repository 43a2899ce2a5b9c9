package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, Skew}

/** Empirical scale-stress for the similarity/dedup family (not a CI test —
  * run with `sbt "Test/runMain graft.ScaleStress"`; results are recorded in
  * PLANS.md).
  *
  * Flags: `--rs 1,10,30` replica counts; `--ops a,b|all` operator subset;
  * `--partitions N` shuffle-partition override (scale-out stand-in: on a
  * real cluster partitions grow with data, on local[32] they are pinned
  * unless overridden); `--coalesce false` turns off AQE partition
  * coalescing; `--hot-only` / `--skip-hot` for the hot-bucket
  * comparison. Heap via SPARK_DRIVER_MEM (build.sbt, default 8g).
  *
  * Corpus scaling uses similarity-PRESERVING, cross-replica-DISJOINT
  * transforms so the expected output grows exactly linearly with the
  * replica count R and measured time growth is attributable to the
  * operators, not to changed pair structure:
  *  - documents: replica r renames every token with an r-suffix — a
  *    bijection on shingles, so each replica reproduces the original
  *    corpus' near-dup structure exactly, while replicas share zero grams
  *    with each other (no cross-replica candidates).
  *  - embeddings: replica r multiplies component j by a hash-derived sign
  *    s_r(j) ∈ {±1}. Within a replica sim(s∘a, s∘b) = sim(a, b) exactly
  *    (s² = 1); across replicas the sign patterns decorrelate the vectors
  *    (E[cos] = 0) — but with d dims the cross-replica cosine noise has
  *    σ ≈ 1/√d, so a low threshold (0.3 at d=64 ≈ 2.4σ) KEEPS a real tail
  *    of cross-replica pairs. lsh_pairs output therefore grows ~R² in the
  *    leak regime; judge its time against its OWN output size (pairs/sec),
  *    not against R.
  *
  * The hot-bucket benchmark forces one bucket to 60% of all rows (30k of
  * 50k — one shuffle key would carry C(30k,2) ≈ 450M pairs) and attaches a
  * 64-byte payload plus a per-pair hash filter, approximating the
  * verification work real callers do per candidate. It compares the plain
  * single-key self-join against the fragment-replicate routing for
  * identical output. (With a SMALL hot bucket and count()-only work the
  * plain path wins on local wall clock — one codegen task emits ~25M
  * cheap pairs/sec — which is why the routing is threshold-gated rather
  * than unconditional; the routed path is for the regime measured here,
  * where one reducer would otherwise hold the straggler/OOM bucket.)
  */
object ScaleStress {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def flag(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val partitions = flag(args, "--partitions").getOrElse("32")
    val rs = flag(args, "--rs").getOrElse("1,10,30").split(",").map(_.trim.toInt).toSeq
    val opsSel = flag(args, "--ops").getOrElse("all")
    val hotOnly = args.contains("--hot-only")
    val skipHot = args.contains("--skip-hot")

    val spark = GraftSession(32)
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      flag(args, "--coalesce").getOrElse("true"))
    spark.sparkContext.setLogLevel("WARN")
    val sf = "/root/testdata/sf0.1"
    val out = "target/scale"

    def gen(r: Int): (String, String) = {
      val dDir = s"$out/docs_r$r"
      val eDir = s"$out/emb_r$r"
      val reps = spark.range(r).select(col("id").cast("int").as("r"))
      Tables.documents(spark, sf).crossJoin(reps)
        .select((col("doc_id") + col("r") * 1000000L).as("doc_id"),
          regexp_replace(col("text"), lit("(\\w+)"),
            concat(lit("$1x"), col("r").cast("string"))).as("text"),
          col("lang"), col("source"))
        .write.mode("overwrite").parquet(dDir)
      Tables.embeddings(spark, sf).crossJoin(reps)
        .select((col("vec_id") + col("r") * 1000000L).as("vec_id"),
          transform(col("embedding"), (x, j) =>
            (x * when(pmod(xxhash64(col("r"), j), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).cast("float")).as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(eDir)
      (dDir, eDir)
    }

    def run(r: Int): Unit = {
      val (dDir, eDir) = gen(r)
      val docs = spark.read.parquet(dDir)
      val emb = spark.read.parquet(eDir)
      val all: Seq[(String, () => Long)] = Seq(
        "minhash_pairs" -> (() => Dedup.nearDuplicatePairs(docs, "doc_id", "text",
          k = 3, threshold = 0.6, eagerSkewProbe = true).count()),
        "ngram_jaccard" -> (() => Dedup.ngramJaccardJoin(docs, "doc_id", "text",
          n = 3, threshold = 0.6, eagerSkewProbe = true).count()),
        "containment" -> (() => Dedup.containmentJoin(
          docs.filter(col("doc_id") % 5 === 0), docs, "doc_id", "text",
          n = 3, threshold = 0.8, eagerSkewProbe = true).count()),
        "lsh_pairs" -> (() => Similarity.lshSimilarPairs(emb, 0.3,
          numTables = 6, planesPerTable = 5, eagerSkewProbe = true).count()),
        "dedup_clusters" -> (() => Dedup.clusterPairs(
          Dedup.nearDuplicatePairs(docs, "doc_id", "text",
            k = 3, threshold = 0.6, eagerSkewProbe = true)).count()),
        // bulk k-NN join: graph over the base replica, EVERY replica
        // vector as a query — the batch sizes (r·2k queries at sf0.1)
        // the driver-map beamSearch cannot hold (its visited map is
        // queries·(beam + rounds·beam·m) entries on one heap; at 2·10⁴
        // queries that is ~2·10⁷ boxed map entries, while the bulk form
        // keeps the walk state in checkpointed DataFrames)
        "nng_bulk_knn" -> (() => {
          val p = s"$out/nng_r$r"
          val base = emb.filter(col("vec_id") < 1000000L)
          graft.sources.NeighborGraph.build(base, p, m = 12,
            numTables = 6, planesPerTable = 5, nBuckets = 16)
          graft.sources.NeighborGraph.beamSearchBulk(spark, p, emb, base,
            k = 5, beamWidth = 16, rounds = 5, nBuckets = 16, nEntries = 8)
            .count()
        }),
        // filtered bulk k-NN: the corpus-scale query batch under a ~10%
        // metadata predicate — the answer-side semi-join must stay a
        // DataFrame op (no driver membership set at these batch sizes)
        "nng_bulk_filtered" -> (() => {
          val p = s"$out/nngf_r$r"
          val base = emb.filter(col("vec_id") < 1000000L)
          graft.sources.NeighborGraph.build(base, p, m = 12,
            numTables = 6, planesPerTable = 5, nBuckets = 16)
          graft.sources.NeighborGraph.beamSearchBulk(spark, p, emb, base,
            k = 5, beamWidth = 16, rounds = 5, nBuckets = 16, nEntries = 8,
            allowed = Some(base.filter(col("label") === 3)
              .select(col("vec_id"))))
            .count()
        }),
        // RTBF churn at scale: delete 2% of the graph's nodes, repair the
        // blast radius — cost must track the churned fraction (one linear
        // corpus hashing pass + touched-bucket writes), not corpus size
        "nng_churn_repair" -> (() => {
          val p = s"$out/nngr_r$r"
          graft.sources.NeighborGraph.build(emb, p, m = 12,
            numTables = 6, planesPerTable = 5, nBuckets = 16)
          val ids = emb.filter(col("vec_id") % 50 === 7)
            .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
          val affected = graft.sources.NeighborGraph.delete(spark, p, ids,
            nBuckets = 16)
          graft.sources.NeighborGraph.repair(spark, p, affected,
            emb.filter(col("vec_id") % 50 =!= 7), m = 12, numTables = 6,
            planesPerTable = 5, nBuckets = 16).count()
        }))
      val ops =
        if (opsSel == "all") all
        else all.filter { case (n, _) => opsSel.split(",").contains(n) }
      ops.foreach { case (name, f) =>
        spark.catalog.clearCache()
        System.gc()
        val (n, sec) = time(f())
        println(f"[scale] R=$r%-2d p=$partitions%-3s $name%-15s rows=$n%-8d sec=$sec%.2f")
      }
    }

    if (!hotOnly) rs.foreach(run)

    // Line-operator stress (round 7): R×100k docs × 20 lines, with one
    // boilerplate line in EVERY doc and one hot line in 60% of docs —
    // the corpus-wide count-distinct on `line` sees two keys carrying
    // 100k-600k×R occurrences each. The partial aggregation on
    // (line, doc_id) must absorb them map-side; a straggler here would
    // show as super-linear time growth in R.
    if (args.contains("--lines")) rs.foreach { r =>
      val nDocs = 100000L * r
      val lineRows = spark.range(nDocs).select(col("id").as("doc_id"))
        .select(col("doc_id"), explode(sequence(lit(0), lit(19))).as("pos"))
        .select(col("doc_id"), col("pos"),
          when(col("pos") === 0, lit("accept all cookies to continue"))
            .when(col("pos") === 1 && col("doc_id") % 10 < 6,
              lit("home | products | about | contact"))
            .otherwise(concat(lit("uniq "), col("doc_id"), lit(" "), col("pos"),
              lit(" body text line"))).as("line"))
      val ops2: Seq[(String, () => Long)] = Seq(
        "boilerplate" -> (() =>
          Dedup.removeBoilerplateLines(lineRows, minDocs = 3).count()),
        "dup_line_stats" -> (() =>
          Dedup.duplicateLineRowStats(lineRows).count()))
      ops2.foreach { case (name, f) =>
        spark.catalog.clearCache()
        System.gc()
        val (n, sec) = time(f())
        println(f"[scale] R=$r%-2d p=$partitions%-3s $name%-15s rows=$n%-8d sec=$sec%.2f")
      }
    }

    // Span-removal linearity (round 8): replicas are token-renamed and
    // therefore gram-disjoint, so duplicated spans exist only WITHIN a
    // replica and both the dup-span table and the removal output grow
    // exactly linearly in R — measured super-linear growth would indicate
    // the coverage explode or the reassembly shuffle is misbehaving.
    if (args.contains("--spans")) rs.foreach { r =>
      val (dDir, _) = gen(r)
      val docs = spark.read.parquet(dDir)
      CacheLifecycle.releaseAll(spark)
      spark.catalog.clearCache()
      System.gc()
      val (n, sec) = time(
        Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 5).count())
      println(f"[scale] R=$r%-2d p=$partitions%-3s span_removal    rows=$n%-8d sec=$sec%.2f")
    }

    // k-means trainer flatness (round-7 verdict #5): cumulative train time
    // at iters=1,2,4,8 over the replicated embeddings. With the persisted
    // embedding projection + per-iteration centroid checkpoint, time must
    // grow LINEARLY in iters (flat per-iteration deltas); super-linear
    // growth would mean lineage is re-nesting or the corpus is rescanned
    // from parquet each round.
    if (args.contains("--kmeans")) rs.foreach { r =>
      val (_, eDir) = gen(r)
      val emb = spark.read.parquet(eDir)
      Seq(1, 2, 4, 8).foreach { iters =>
        CacheLifecycle.releaseAll(spark)
        spark.catalog.clearCache()
        System.gc()
        val (n, sec) = time(
          Similarity.trainKMeansCells(emb, k = 64, iters = iters).count())
        println(f"[scale] R=$r%-2d p=$partitions%-3s kmeans_i$iters%-10s rows=$n%-8d sec=$sec%.2f")
      }
    }

    // Graph-operator linearity: a synthetic degree-6 circulant graph
    // (node i ↔ i+1, i+7, i+31 mod N) scales nodes AND edges exactly
    // linearly in R with constant degree, so PageRank's per-round cost
    // (one src-keyed join + one dst-keyed agg) must grow linearly — and
    // BFS's fixed-radius ball is R-independent, so its cost is the edge
    // scans alone. Super-linear growth would indicate the rank join
    // stopped being key-bounded or the frontier anti-join degenerated.
    if (args.contains("--graph")) rs.foreach { r =>
      import graft.operators.Graph
      val n = r * 200000L
      val base = spark.range(n).toDF("src")
      val fwd = Seq(1L, 7L, 31L).map(o =>
          base.select(col("src"), ((col("src") + o) % n).as("dst")))
        .reduce(_ unionByName _)
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      CacheLifecycle.releaseAll(spark)
      spark.catalog.clearCache()
      System.gc()
      val (pn, psec) = time(Graph.pageRank(edges, iters = 2).count())
      println(f"[scale] R=$r%-2d p=$partitions%-3s pagerank_i2    rows=$pn%-8d sec=$psec%.2f")
      CacheLifecycle.releaseAll(spark)
      spark.catalog.clearCache()
      System.gc()
      import spark.implicits._
      val (bn, bsec) = time(
        Graph.bfsHops(edges, Seq(0L).toDF("node"), maxHops = 3).count())
      println(f"[scale] R=$r%-2d p=$partitions%-3s bfs_h3         rows=$bn%-8d sec=$bsec%.2f")
      // k-core on the degree-6 circulant: every node has degree 6, so
      // peeling at k=7 deletes EVERYTHING in one round and k=6 deletes
      // nothing — both converge in O(1) rounds at any N; cost must be
      // the edge scans alone (linear in R)
      CacheLifecycle.releaseAll(spark)
      spark.catalog.clearCache()
      System.gc()
      val pairs = fwd.select(col("src").as("a"), col("dst").as("b"))
      val (kn, ksec) = time {
        val fx = Graph.kCore(pairs, k = 6, maxRounds = 4)
        assert(fx.converged, "uniform-degree graph must converge instantly")
        fx.result.count()
      }
      println(f"[scale] R=$r%-2d p=$partitions%-3s kcore_k6       rows=$kn%-8d sec=$ksec%.2f")
    }


    // Event-analytics slice-window family (round 8): replicate the events
    // table R times with each replica shifted +31·k days — days (and
    // therefore (type, day) slices) grow linearly while per-slice density
    // stays constant, which is exactly the axis the boundary-replicated
    // window shapes (q150 rolling anomaly, q156 CUSUM prefix sums, q158
    // TWAP segment explode) are supposed to parallelize over. Replicas
    // are time-disjoint, so q150/q158 outputs must grow EXACTLY linearly
    // in R; super-linear time would indicate a window stopped being
    // slice-keyed or the hour explode degenerated.
    if (args.contains("--events")) rs.foreach { r =>
      val evDir = s"$out/events_r$r"
      val reps = spark.range(r).select(col("id").cast("int").as("r"))
      spark.read.parquet(s"$sf/events.parquet").crossJoin(reps)
        .select((col("event_id") + col("r") * 100000000L).as("event_id"),
          expr("timestampadd(DAY, r * 31, ts)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").parquet(s"$evDir/events.parquet")
      val cases: Seq[(String, () => Long)] = Seq(
        "rolling_anomaly" -> (() => queries.Events.q150(spark, evDir).count()),
        "cusum"           -> (() => queries.Events.q156(spark, evDir).count()),
        "twap"            -> (() => queries.Events.q158(spark, evDir).count()))
      cases.foreach { case (name, f) =>
        CacheLifecycle.releaseAll(spark)
        spark.catalog.clearCache()
        System.gc()
        val (n, sec) = time(f())
        println(f"[scale] R=$r%-2d p=$partitions%-3s $name%-15s rows=$n%-8d sec=$sec%.2f")
      }
    }

    // Cumulative stage timings for the ngram-Jaccard pipeline (diagnosis
    // aid for time-growth curvature: each stage re-runs its predecessors
    // from cold, so stage deltas attribute growth). Mirrors
    // Dedup.ngramJaccardJoin's shape without its persists.
    if (args.contains("--ngram-stages")) rs.foreach { r =>
      val (dDir, _) = gen(r)
      val docs = spark.read.parquet(dDir)
      import org.apache.spark.sql.expressions.Window
      def grams = Dedup.shingleHashRows(docs, "doc_id", "text", 3)
        .withColumnRenamed("h", "g").distinct()
      def prefix = {
        val gf = grams.groupBy("g").agg(count(lit(1)).as("gf"))
        val wDoc = Window.partitionBy(col("doc_id"))
        grams.join(gf, "g")
          .withColumn("sz", count(lit(1)).over(wDoc))
          .withColumn("rn", row_number().over(wDoc.orderBy(col("gf"), col("g"))))
          .filter(col("rn") <= col("sz") - ceil(col("sz") * 0.6 - 1e-6) + 1)
          .select(col("doc_id"), col("g"), col("sz"))
      }
      def candidates = {
        val p = prefix
        p.as("a").join(p.as("b"),
            col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
              col("b.sz") >= col("a.sz") * 0.6 && col("a.sz") >= col("b.sz") * 0.6)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
      }
      val stages: Seq[(String, () => Long)] = Seq(
        "s1_grams" -> (() => grams.count()),
        "s2_prefix" -> (() => prefix.count()),
        "s3_candidates" -> (() => candidates.count()),
        "s4_full" -> (() => Dedup.ngramJaccardJoin(docs, "doc_id", "text",
          n = 3, threshold = 0.6, eagerSkewProbe = true).count()))
      stages.foreach { case (name, f) =>
        spark.catalog.clearCache()
        System.gc()
        val (n, sec) = time(f())
        println(f"[scale] R=$r%-2d p=$partitions%-3s $name%-15s rows=$n%-8d sec=$sec%.2f")
      }
    }

    if (!skipHot) {
      // Hot-bucket wall-clock: identical output; one 60%-hot shuffle key
      // (C(30k,2) ≈ 450M pairs on a single reducer) vs fragment-replicate
      // cells. Per-pair work: a hash over both 64-byte payloads — the
      // cheap stand-in for candidate verification.
      val rows = spark.range(50000).select(
        when(col("id") < 30000, lit("hot"))
          .otherwise(concat(lit("b"), pmod(col("id"), lit(4000)))).as("bucket"),
        col("id").as("doc_id"),
        sha2(col("id").cast("string"), 256).as("payload"))
        .repartition(32).persist()
      rows.count()
      def pairWork(p: DataFrame): Long =
        p.filter(pmod(xxhash64(col("payload_a"), col("payload_b")), lit(1000)) === 0)
          .count()
      val (nPlain, tPlain) = time(pairWork(
        Skew.hybridBucketPairs(rows, Seq("bucket"), "doc_id",
          maxBucketRows = Int.MaxValue, chunkSize = 1024,
          payload = Seq("payload"))))
      val (nRouted, tRouted) = time(pairWork(
        Skew.hybridBucketPairs(rows, Seq("bucket"), "doc_id",
          maxBucketRows = 4096, chunkSize = 1024,
          payload = Seq("payload"))))
      require(nPlain == nRouted, s"output mismatch: $nPlain vs $nRouted")
      println(f"[scale] hot-bucket(60%%,payload) pairs=$nPlain plain=$tPlain%.2fs routed=$tRouted%.2fs")
    }
    spark.stop()
  }
}
