package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NeighborGraph

class NeighborGraphSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  private lazy val graphPath: String = {
    val p = TempDirs.fresh("graft_nngspec")
    NeighborGraph.build(emb, p.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8)
    p.toString
  }

  test("staged graph has at most m out-edges per node, ranked by sim") {
    val edges = spark.read.parquet(s"$graphPath/edges")
    val maxDeg = edges.groupBy(col("src")).count()
      .agg(max(col("count"))).head.getLong(0)
    assert(maxDeg <= 4, s"degree cap violated: $maxDeg")
    // rank must follow (sim DESC, dst ASC) within each src
    val bad = edges.withColumn("rr", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy(col("sim").desc, col("dst").asc)))
      .filter(col("rr") =!= col("rank")).count()
    assert(bad == 0, s"$bad edges out of rank order")
  }

  test("frontier read is partition-pruned to the frontier's buckets") {
    val frontier = Seq(0L, 1L, 8L) // buckets {0, 1} of 8
    val scan = NeighborGraph.frontierEdges(spark, graphPath, frontier, 8)
    val leaf = scan.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PartitionFilters") && leaf.contains("src_bucket#"),
      s"partition filter missing from frontier scan:\n$leaf")
    val pruned = TestPlans.prunedPartitionCount(scan)
    assert(pruned >= 1 && pruned <= 2,
      s"expected <=2 of 8 partitions after pruning, scan lists $pruned")
  }

  test("delete rewrites only touched buckets and leaves no residual edges") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nngdel")
    NeighborGraph.build(emb.filter($"vec_id" =!= 7), p.toString,
      m = 4, numTables = 6, planesPerTable = 5, nBuckets = 8)
    // a single-node batch: its out-edges land in one bucket, its ≤m
    // back-links in at most m more — a strict subset of the 8 buckets,
    // so the untouched remainder can prove the rewrite is scoped
    val batch = emb.filter($"vec_id" === 7)
    NeighborGraph.append(spark, p.toString, batch, emb, m = 4,
      beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4)
    val ids = batch.select($"vec_id").collect().map(_.getLong(0)).toSeq
    // which buckets hold a touched edge BEFORE the delete
    val pre = spark.read.parquet(s"$p/edges")
    val touched = pre
      .filter($"src".isin(ids: _*) || $"dst".isin(ids: _*))
      .select($"src_bucket").distinct()
      .collect().map(_.getAs[Number](0).longValue).toSet
    assert(touched.nonEmpty && touched.size < 8,
      s"need a partial touch set to prove scoping, got $touched")
    def listing(b: Long): Seq[String] = {
      val dir = java.nio.file.Paths.get(s"$p/edges/src_bucket=$b")
      val s = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(f => s"${f.getFileName}|" +
          java.nio.file.Files.getLastModifiedTime(f).toMillis).toSeq.sorted
      } finally s.close()
    }
    val untouched = (0L until 8L).filterNot(touched)
    val before = untouched.map(b => b -> listing(b)).toMap
    NeighborGraph.delete(spark, p.toString, ids, nBuckets = 8)
    untouched.foreach { b =>
      assert(listing(b) == before(b), s"untouched bucket $b was rewritten")
    }
    val post = spark.read.parquet(s"$p/edges")
    assert(post.filter($"src".isin(ids: _*) || $"dst".isin(ids: _*))
      .count() == 0, "residual edges after delete")
    assert(post.filter($"rank" === 0).count() == 0,
      "back-link sentinels survived the delete")
  }

  test("append then delete restores the base edge relation verbatim") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nngroundtrip")
    NeighborGraph.build(emb.filter($"vec_id" % 50 =!= 7), p.toString,
      m = 4, numTables = 6, planesPerTable = 5, nBuckets = 8)
    val base = spark.read.parquet(s"$p/edges")
      .select($"src", $"dst", $"sim", $"rank").collect().toSet
    val batch = emb.filter($"vec_id" % 50 === 7)
    NeighborGraph.append(spark, p.toString, batch, emb, m = 4,
      beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4)
    val ids = batch.select($"vec_id").collect().map(_.getLong(0)).toSeq
    NeighborGraph.delete(spark, p.toString, ids, nBuckets = 8)
    val after = spark.read.parquet(s"$p/edges")
      .select($"src", $"dst", $"sim", $"rank").collect().toSet
    assert(after == base, "append∘delete must be the identity on the base graph")
  }

  private def listing(p: String, b: Long): Seq[String] = {
    val dir = java.nio.file.Paths.get(s"$p/edges/src_bucket=$b")
    val s = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(f => s"${f.getFileName}|" +
        java.nio.file.Files.getLastModifiedTime(f).toMillis).toSeq.sorted
    } finally s.close()
  }

  test("compact restores the degree cap and rewrites only pending buckets") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nngcpt")
    NeighborGraph.build(emb.filter($"vec_id" =!= 7), p.toString,
      m = 4, numTables = 6, planesPerTable = 5, nBuckets = 8)
    // a single-node batch: fwd edges land in one bucket, rank-0
    // back-links in at most m more — a strict subset of the 8 buckets,
    // so the untouched remainder can prove the rewrite is scoped
    NeighborGraph.append(spark, p.toString, emb.filter($"vec_id" === 7),
      emb, m = 4, beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4)
    val pre = spark.read.parquet(s"$p/edges")
    // pending = over-cap degree or rank-0 sentinel; their buckets get
    // rewritten, every other bucket must keep its exact file listing
    val pendingBuckets = pre.groupBy($"src")
      .agg(count(lit(1)).as("d"),
        sum(when($"rank" === 0, 1L).otherwise(0L)).as("z"))
      .filter($"d" > 4 || $"z" > 0)
      .select(($"src" % 8).as("b")).distinct()
      .collect().map(_.getAs[Number](0).longValue).toSet
    assert(pendingBuckets.nonEmpty && pendingBuckets.size < 8,
      s"need a partial pending set to prove scoping, got $pendingBuckets")
    val untouched = (0L until 8L).filterNot(pendingBuckets)
    val before = untouched.map(b => b -> listing(p.toString, b)).toMap
    // within-cap srcs' edge SETS must survive the re-cut untouched
    val keepSets = pre.groupBy($"src").agg(count(lit(1)).as("d"))
      .filter($"d" <= 4).select($"src").collect().map(_.getLong(0)).toSet
    val preKept = pre.filter($"src".isin(keepSets.toSeq: _*))
      .select($"src", $"dst", $"sim").collect().toSet
    NeighborGraph.compact(spark, p.toString, m = 4, nBuckets = 8)
    untouched.foreach { b =>
      assert(listing(p.toString, b) == before(b), s"untouched bucket $b rewritten")
    }
    val post = spark.read.parquet(s"$p/edges")
    val deg = post.groupBy($"src").agg(count(lit(1)).as("d"),
      max($"rank").as("mx"), min($"rank").as("mn"))
    assert(deg.agg(max($"d")).head.getLong(0) <= 4, "degree cap not restored")
    assert(post.filter($"rank" === 0).count() == 0, "rank-0 sentinels survived")
    assert(deg.filter($"mx" =!= $"d" || $"mn" =!= 1).count() == 0,
      "ranks not dense 1..deg after compaction")
    assert(post.filter($"src".isin(keepSets.toSeq: _*))
      .select($"src", $"dst", $"sim").collect().toSet == preKept,
      "a within-cap src lost or changed an edge")
    // idempotence: the compacted graph has no pending srcs left, so a
    // second compaction must not open a single bucket
    val allAfter = (0L until 8L).map(b => b -> listing(p.toString, b)).toMap
    NeighborGraph.compact(spark, p.toString, m = 4, nBuckets = 8)
    (0L until 8L).foreach { b =>
      assert(listing(p.toString, b) == allAfter(b),
        s"second compaction rewrote bucket $b")
    }
  }

  test("compact of a clean build is a no-op and serving is unchanged") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nngcpt_noop")
    NeighborGraph.build(emb, p.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8)
    val before = (0L until 8L).map(b => b -> listing(p.toString, b)).toMap
    val queries = emb.filter($"vec_id" < 3)
    def serve() = NeighborGraph.beamSearch(spark, p.toString, queries, emb,
        k = 3, beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val preServe = serve()
    NeighborGraph.compact(spark, p.toString, m = 4, nBuckets = 8)
    (0L until 8L).foreach { b =>
      assert(listing(p.toString, b) == before(b),
        s"clean bucket $b rewritten by a no-op compaction")
    }
    assert(serve() == preServe, "no-op compaction changed serving results")
  }

  test("NN-descent refine keeps the degree cap and never worsens a node's best edge") {
    import spark.implicits._
    val p0 = TempDirs.fresh("graft_nngrefine0")
    val p1 = TempDirs.fresh("graft_nngrefine1")
    NeighborGraph.build(emb, p0.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8)
    NeighborGraph.build(emb, p1.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8, refineRounds = 1)
    val base = spark.read.parquet(s"$p0/edges")
    val ref = spark.read.parquet(s"$p1/edges")
    assert(ref.groupBy($"src").count().agg(max($"count")).head.getLong(0) <= 4)
    // a node's best out-edge always survives its own und cap, so the
    // refined top-1 sim can only match or improve
    val t1 = base.groupBy($"src").agg(max($"sim").as("b1"))
      .join(ref.groupBy($"src").agg(max($"sim").as("r1")), "src")
    assert(t1.filter($"r1" < $"b1").count() == 0,
      "refine worsened some node's best edge")
    // refinement must add edge mass on this corpus (it fixes LSH misses)
    val bSum = base.agg(sum($"sim")).head.getDouble(0)
    val rSum = ref.agg(sum($"sim")).head.getDouble(0)
    assert(rSum > bSum, f"refined sim mass $rSum%.3f <= base $bSum%.3f")
  }

  test("hierarchical search is deterministic and walks the coarse layer first") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nnghier")
    NeighborGraph.buildHier(emb, p.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8, refineRounds = 1, l1Mod = 4)
    // the coarse layer holds only sampled ids
    val l1Srcs = spark.read.parquet(s"$p/l1/edges")
      .select($"src").distinct().collect().map(_.getLong(0))
    assert(l1Srcs.nonEmpty && l1Srcs.forall(_ % 4 == 0),
      "coarse layer contains non-sampled nodes")
    val queries = emb.filter($"vec_id" < 3)
    def run() = NeighborGraph.beamSearchHier(spark, p.toString, queries, emb,
        k = 3, l1Beam = 4, l1Rounds = 2, beamWidth = 8, rounds = 3,
        nBuckets = 8, nEntries = 4)
      .orderBy($"query_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val a = run()
    assert(a.sameElements(run()), "two identical hierarchical searches diverged")
    a.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1 to rows.length))
      assert(!rows.exists(_._2 == qid), s"query $qid returned itself")
    }
  }

  test("bulk-routed append writes the same edge relation as the probe-routed one") {
    import spark.implicits._
    def appended(threshold: Int): Set[(Long, Long, Double, Int)] = {
      val p = TempDirs.fresh(s"graft_nngappbulk$threshold")
      NeighborGraph.build(emb.filter($"vec_id" % 50 =!= 7), p.toString,
        m = 4, numTables = 6, planesPerTable = 5, nBuckets = 8)
      NeighborGraph.append(spark, p.toString, emb.filter($"vec_id" % 50 === 7),
        emb, m = 4, beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4,
        bulkThreshold = threshold)
      spark.read.parquet(s"$p/edges")
        .select($"src", $"dst", $"sim", $"rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    }
    // threshold 0 forces the bulk route; the default keeps the probe route
    assert(appended(0) == appended(1024),
      "bulk- and probe-routed appends diverged")
  }

  test("bulk k-NN join equals the per-probe beam search on a full-corpus batch") {
    import spark.implicits._
    // every corpus vector as a query — the batch shape the bulk form
    // exists for; the driver form still holds it at this SF, so the two
    // must agree row-for-row (same arithmetic, same tie-breaks)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id", $"rank", $"sim")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val perProbe = norm(NeighborGraph.beamSearch(spark, graphPath, emb, emb,
      k = 3, beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4))
    val bulk = norm(NeighborGraph.beamSearchBulk(spark, graphPath, emb, emb,
      k = 3, beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4))
    assert(bulk == perProbe,
      s"bulk/per-probe divergence: ${(bulk diff perProbe).take(5)} vs ${(perProbe diff bulk).take(5)}")
  }

  test("append records a pending manifest and compact discovery is manifest-scoped") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nngmanifest")
    NeighborGraph.build(emb.filter($"vec_id" =!= 7), p.toString,
      m = 4, numTables = 6, planesPerTable = 5, nBuckets = 8)
    assert(NeighborGraph.readPendingManifest(p.toString).isEmpty,
      "a fresh build must not leave a manifest")
    NeighborGraph.append(spark, p.toString, emb.filter($"vec_id" === 7),
      emb, m = 4, beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4,
      bulkHint = Some(false))
    // the manifest must name exactly the buckets the append wrote
    val written = spark.read.parquet(s"$p/edges")
      .filter($"src" === 7 || $"dst" === 7 || $"rank" === 0)
      .select(($"src" % 8).as("b")).distinct()
      .collect().map(_.getAs[Number](0).longValue).toSet
    val Some((manifest, files)) = NeighborGraph.readPendingManifest(p.toString)
    assert(files.nonEmpty, "append must write a manifest sidecar")
    assert(manifest.toSet == written,
      s"manifest $manifest != appended buckets $written")
    NeighborGraph.compact(spark, p.toString, m = 4, nBuckets = 8)
    val Some((after, filesAfter)) = NeighborGraph.readPendingManifest(p.toString)
    assert(after.isEmpty && filesAfter.isEmpty,
      "compact must consume the manifest entries it serviced")
    // a second compact with an empty manifest is an early no-op: no
    // bucket listing may change
    val all = (0L until 8L).map(b => b -> listing(p.toString, b)).toMap
    NeighborGraph.compact(spark, p.toString, m = 4, nBuckets = 8)
    (0L until 8L).foreach { b =>
      assert(listing(p.toString, b) == all(b),
        s"empty-manifest compact touched bucket $b")
    }
  }

  test("serving heals an interrupted rewrite instead of missing a bucket") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nngservheal")
    NeighborGraph.build(emb, p.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8)
    val queries = emb.filter($"vec_id" < 3)
    def serve() = NeighborGraph.beamSearch(spark, p.toString, queries, emb,
        k = 3, beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val healthy = serve()
    // simulate the post-commit lost-bucket window: bucket 0 moved aside,
    // its replacement complete in scratch, marker present — the state a
    // crash between AtomicSwap's two moves leaves behind
    val root = java.nio.file.Paths.get(p.toString)
    val target = root.resolve("edges/src_bucket=0")
    java.nio.file.Files.move(target, root.resolve(".swapold_0"))
    java.nio.file.Files.createDirectory(root.resolve(".swapnew_0"))
    val s0 = java.nio.file.Files.list(root.resolve(".swapold_0"))
    try {
      import scala.jdk.CollectionConverters._
      s0.iterator().asScala.foreach { f =>
        java.nio.file.Files.copy(f,
          root.resolve(".swapnew_0").resolve(f.getFileName))
      }
    } finally s0.close()
    java.nio.file.Files.createFile(root.resolve(".swapcommit_0"))
    assert(!java.nio.file.Files.exists(target), "setup: bucket must be gone")
    // a bare serving call must heal and answer as if nothing happened
    assert(serve() == healthy,
      "serving over the interrupted layout diverged from the healthy answer")
    assert(java.nio.file.Files.isDirectory(target),
      "serving did not restore the missing bucket")
  }

  test("delete on a hierarchical layout scrubs the coarse layer too") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nnghierdel")
    NeighborGraph.buildHier(emb, p.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8, refineRounds = 0, l1Mod = 4)
    // delete an l1 MEMBER (id % 4 == 0) that the coarse layer stores
    val victim = spark.read.parquet(s"$p/l1/edges")
      .select($"src").distinct().orderBy($"src").head.getLong(0)
    NeighborGraph.delete(spark, p.toString, Seq(victim), nBuckets = 8)
    Seq(s"$p/edges", s"$p/l1/edges").foreach { layer =>
      val residual = spark.read.parquet(layer)
        .filter($"src" === victim || $"dst" === victim).count()
      assert(residual == 0, s"$residual residual edges for $victim in $layer")
    }
    val served = NeighborGraph.beamSearchHier(spark, p.toString,
        emb.filter($"vec_id" < 3), emb, k = 3, l1Beam = 4, l1Rounds = 2,
        beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4)
      .filter($"neighbor_id" === victim).count()
    assert(served == 0, "hierarchical search returned a deleted node")
  }

  test("repair after heavy deletion restores degree and recall to rebuild parity") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nngrepair")
    NeighborGraph.build(emb, p.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8)
    // delete 25% of the corpus including the biggest hub — heavy RTBF churn
    val hub = spark.read.parquet(s"$p/edges")
      .groupBy($"dst").count().orderBy($"count".desc, $"dst")
      .head.getLong(0)
    val ids = (emb.filter($"vec_id" % 4 === 1).select($"vec_id")
      .collect().map(_.getLong(0)).toSeq :+ hub).distinct.sorted
    val affected = NeighborGraph.delete(spark, p.toString, ids, nBuckets = 8)
    assert(affected.nonEmpty && affected.forall(a => !ids.contains(a)))
    val survivors = emb.filter(!$"vec_id".isin(ids: _*))
    def recallVs(path: String): Double = {
      val queries = survivors.filter($"vec_id" % 7 === 0)
      val bf = graft.operators.Similarity.bruteForceTopK(queries, survivors,
          k = 3, queryCountHint = 200)
        .select($"query_id", $"neighbor_id")
      val got = NeighborGraph.beamSearch(spark, path, queries, survivors,
          k = 3, beamWidth = 16, rounds = 5, nBuckets = 8, nEntries = 4)
        .select($"query_id", $"neighbor_id")
      val hits = bf.join(got, Seq("query_id", "neighbor_id"), "left_semi").count()
      hits.toDouble / bf.count()
    }
    // per-src edge quality before repair (deficient nodes' best edge)
    val preTop1 = spark.read.parquet(s"$p/edges")
      .filter($"src".isin(affected: _*))
      .groupBy($"src").agg(max($"sim").as("t1"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val repaired = NeighborGraph.repair(spark, p.toString, affected, survivors,
      m = 4, numTables = 6, planesPerTable = 5, nBuckets = 8)
    assert(repaired.count() > 0, "heavy deletion must leave nodes to repair")
    // every repaired node is back at the degree cap (enough survivors
    // exist), ranked densely, no deleted dst re-linked
    val post = spark.read.parquet(s"$p/edges")
    assert(post.filter($"dst".isin(ids: _*) || $"src".isin(ids: _*))
      .count() == 0, "repair re-linked a deleted node")
    val affDeg = post.filter($"src".isin(affected: _*))
      .groupBy($"src").agg(count(lit(1)).as("d"))
    assert(affDeg.filter($"d" < 4).count() == 0,
      "an affected node is still below the degree cap after repair")
    // a repaired node's edge set is top-m of (survivors ∪ found): its
    // best edge can only match or improve
    val postTop1 = post.filter($"src".isin(affected: _*))
      .groupBy($"src").agg(max($"sim").as("t1"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    preTop1.foreach { case (src, t1) =>
      assert(postTop1.getOrElse(src, Double.NegativeInfinity) >= t1,
        s"repair worsened node $src's best edge")
    }
    // end-to-end: repaired-graph recall reaches rebuild parity (recall on
    // this isotropic corpus is budget-bound — the parity CLAIM, not an
    // absolute level, is the repair contract)
    val p2 = TempDirs.fresh("graft_nngrepair_rebuild")
    NeighborGraph.build(survivors, p2.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8)
    val postRepair = recallVs(p.toString)
    val rebuilt = recallVs(p2.toString)
    assert(postRepair >= rebuilt - 1e-9,
      f"repaired recall $postRepair%.3f below rebuild parity $rebuilt%.3f")
    // the strong form: the repaired EDGE RELATION equals the rebuild's
    // verbatim (LSH-scoped repair regenerates exactly the rebuild's
    // candidates for deficient srcs; unaffected srcs already hold theirs)
    def rel(path: String) = spark.read.parquet(s"$path/edges")
      .select($"src", $"dst", $"sim", $"rank").collect().toSet
    assert(rel(p.toString) == rel(p2.toString),
      "repaired edge relation diverged from a fresh build over survivors")
  }

  test("append maintains the coarse layer of a hierarchical layout") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nnghierapp")
    // hold out one sampled id (8 % 4 == 0) and one unsampled (7)
    NeighborGraph.buildHier(emb.filter($"vec_id" =!= 7 && $"vec_id" =!= 8),
      p.toString, m = 4, numTables = 6, planesPerTable = 5, nBuckets = 8,
      refineRounds = 0, l1Mod = 4)
    NeighborGraph.append(spark, p.toString,
      emb.filter($"vec_id" === 7 || $"vec_id" === 8), emb, m = 4,
      beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4,
      bulkHint = Some(false))
    val l1 = spark.read.parquet(s"$p/l1/edges")
    assert(l1.filter($"src" === 8).count() > 0,
      "sampled appended node missing from the coarse layer")
    assert(l1.filter($"src" === 7 || $"dst" === 7).count() == 0,
      "unsampled node leaked into the coarse layer")
    val base = spark.read.parquet(s"$p/edges")
    assert(base.filter($"src" === 7).count() > 0 &&
      base.filter($"src" === 8).count() > 0,
      "appended nodes missing from the base layer")
    // the maintained hierarchy serves: both nodes reachable as answers
    val got = NeighborGraph.beamSearchHier(spark, p.toString,
        emb.filter($"vec_id" < 3), emb, k = 8, l1Beam = 4, l1Rounds = 2,
        beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4)
      .select($"neighbor_id").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty, "hierarchical search returned nothing")
  }

  test("repair restores the coarse layer to rebuild parity too") {
    import spark.implicits._
    val p = TempDirs.fresh("graft_nnghierrep")
    NeighborGraph.buildHier(emb, p.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8, refineRounds = 0, l1Mod = 4)
    // victims = multiples of 4 but not 8: all coarse-layer members, so
    // BOTH layers lose edges and both need repair
    val ids = emb.filter($"vec_id" % 8 === 4).select($"vec_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    val affected = NeighborGraph.delete(spark, p.toString, ids, nBuckets = 8)
    val survivors = emb.filter(!$"vec_id".isin(ids: _*))
    NeighborGraph.repair(spark, p.toString, affected, survivors,
      m = 4, numTables = 6, planesPerTable = 5, nBuckets = 8)
    // both layers must equal a never-deleted build over the survivors
    val p2 = TempDirs.fresh("graft_nnghierrep_rebuild")
    NeighborGraph.buildHier(survivors, p2.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8, refineRounds = 0, l1Mod = 4)
    def rel(path: String) = spark.read.parquet(path)
      .select($"src", $"dst", $"sim", $"rank").collect().toSet
    assert(rel(s"$p/edges") == rel(s"$p2/edges"),
      "repaired base layer diverged from the survivor rebuild")
    assert(rel(s"$p/l1/edges") == rel(s"$p2/l1/edges"),
      "repaired coarse layer diverged from the survivor rebuild")
  }

  test("filtered search strictly beats post-filtering the unfiltered top-k") {
    import spark.implicits._
    // selective predicate (~10% of the corpus): the unfiltered top-k
    // rarely contains a match, so post-filtering starves
    val allowed = emb.filter($"label" === 3).select($"vec_id")
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    val queries = emb.filter($"vec_id" < 8)
    val filtered = NeighborGraph.beamSearchWhere(spark, graphPath, queries,
        emb, allowed, k = 3, beamWidth = 8, rounds = 3, nBuckets = 8,
        nEntries = 4)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(filtered.nonEmpty && filtered.forall(x => allowedSet(x._2)),
      "filtered search returned a non-matching node")
    val postFiltered = NeighborGraph.beamSearch(spark, graphPath, queries,
        emb, k = 3, beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(x => allowedSet(x._2))
    assert(filtered.length > postFiltered.length,
      s"filtered search (${filtered.length} answers) must under-return " +
        s"strictly less than post-filtering (${postFiltered.length})")
    // the filtered IVF probe honors the same contract
    val ivfPath = TempDirs.fresh("graft_vidx_filter")
    graft.sources.VectorIndex.build(emb, ivfPath.toString, kCells = 8,
      cellIters = 1, m = 4, kCw = 4, pqIters = 1)
    val ivfFiltered = graft.sources.VectorIndex.probeTopKWhere(spark,
        ivfPath.toString, queries, m = 4, k = 3, nprobe = 3,
        allowed = Some(allowed))
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ivfPost = graft.sources.VectorIndex.probeTopK(spark,
        ivfPath.toString, queries, m = 4, k = 3, nprobe = 3)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(x => allowedSet(x._2))
    assert(ivfFiltered.nonEmpty && ivfFiltered.forall(x => allowedSet(x._2)))
    assert(ivfFiltered.length > ivfPost.length,
      s"IVF filtered (${ivfFiltered.length}) vs post-filter (${ivfPost.length})")
  }

  test("beam search is deterministic and finds brute-force top-k when the beam covers the corpus") {
    import spark.implicits._
    val queries = emb.filter($"vec_id" < 3)
    def run() = NeighborGraph.beamSearch(spark, graphPath, queries, emb,
        k = 3, beamWidth = 8, rounds = 3, nBuckets = 8, nEntries = 4)
      .orderBy($"query_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val a = run()
    val b = run()
    assert(a.sameElements(b), "two identical searches diverged")
    // sanity: answers are ranked 1..k per query with no self-neighbors
    val perQuery = a.groupBy(_._1)
    perQuery.foreach { case (qid, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1 to rows.length))
      assert(!rows.exists(_._2 == qid), s"query $qid returned itself")
    }
  }
}
