package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.VectorFunctions._
import graft.operators.{Fixpoint, Similarity}

/** Graph-structured ANN: a staged k-NN neighbor graph (the NSW/HNSW
  * family's base layer) + deterministic greedy beam search over it — the
  * index structure production vector stores serve from, built and probed
  * with Spark primitives.
  *
  * BUILD is corpus-scale but LSH-bounded: candidate pairs come from
  * [[Similarity.lshSimilarPairs]] (multi-table hyperplane banding with the
  * skew-routed bucket self-join — vectors only pairwise-compare on a
  * bucket collision, never all-pairs), reranked exactly, symmetrized, and
  * cut to each node's top-`m` neighbors by (sim DESC, dst ASC) — a fully
  * deterministic graph the DuckDB oracle restates verbatim from the same
  * integer-mixer plane arithmetic. Edges land `partitionBy(src_bucket)`
  * (src mod nBuckets), the [[VectorIndex]] layout discipline: a search
  * round's edge lookup is a planning-time partition-pruned read of the
  * frontier's buckets, not a graph scan.
  *
  * SEARCH is the standard navigable-graph loop made deterministic: start
  * at a fixed entry point (MIN node id — no randomness), expand the
  * current beam's out-edges, score ONLY the newly-reached nodes against
  * the query (exact cosine, rounded on the shared 1e-6 grid), keep the
  * best `beamWidth` of everything visited, repeat `rounds` times, answer
  * with the top-k of the visited set. All ties break on node id, so the
  * whole trajectory — and therefore the result — is reproducible by an
  * unrolled SQL restatement.
  *
  * Scale shape (the point of the structure): edges carry their dst's
  * embedding (the HNSW trade — vectors co-located with adjacency at the
  * cost of an m× vector copy), so a search round is ONE partition-pruned
  * edges read filtered to ≤ |beam| literal src ids that expands AND
  * scores in the same plan — the corpus is never touched after the
  * entry-point scoring. The driver holds only (query, node, sim)
  * triples — bounded by queries·(beamWidth + rounds·beamWidth·m), never
  * corpus-sized (the probeTopK bounded-collect convention).
  */
object NeighborGraph {

  /** Build the k-NN graph and stage it partitioned by src bucket.
    * Edges carry (src, dst, sim, rank, dst_emb, dst_nrm) with rank 1..m
    * per src; dst_emb/dst_nrm are the dst vector and its L2 norm, exactly
    * the doubles the corpus read would produce (float→double cast is
    * exact; parquet round-trips doubles bit-identically), so fused
    * search scoring matches a corpus-read restatement verbatim. */
  def build(emb: DataFrame, path: String, m: Int, numTables: Int,
      planesPerTable: Int, nBuckets: Int, refineRounds: Int = 0): Unit = {
    // threshold -1.0 keeps every bucket-collision pair: a navigable graph
    // wants its long-range links, and the top-m cut below bounds degree.
    val pairs = Similarity.lshSimilarPairs(emb, threshold = -1.0,
      numTables = numTables, planesPerTable = planesPerTable,
      eagerSkewProbe = true)
    def topM(undirected: DataFrame): DataFrame = {
      val both = undirected.select(col("vec_a").as("src"),
          col("vec_b").as("dst"), col("sim"))
        .unionByName(undirected.select(col("vec_b").as("src"),
          col("vec_a").as("dst"), col("sim")))
      both
        .withColumn("rank", row_number().over(
          Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)))
        .filter(col("rank") <= m)
    }
    var cut = topM(pairs)
    import graft.CacheLifecycle.TrackedPersistOps
    // NN-descent refinement (Dong et al. 2011): per round, each node's
    // UNDIRECTED neighborhood — out-edges plus reverse edges, capped at
    // 2m by (sim DESC, dst ASC) so hub in-degree cannot blow the
    // generator up — proposes all pairs within it (the sibling rule:
    // two nodes sharing a neighbor are likely neighbors; this covers
    // in-out, out-out, and in-in pairs, which a one-direction two-hop
    // walk misses). Candidates = those sibling pairs ∪ current edges,
    // exact-reranked, re-cut to top-m. Work is n·(2m)² pairs per round —
    // linear in corpus, shuffled on the pivot node, never all-pairs.
    val embN = emb.select(col("vec_id"), asDouble(col("embedding")).as("e"),
      l2Norm(col("embedding")).as("n"))
    for (_ <- 1 to refineRounds) {
      val e = cut.select(col("src"), col("dst"), col("sim"))
      val und = e
        .unionByName(e.select(col("dst").as("src"), col("src").as("dst"),
          col("sim")))
        .dropDuplicates("src", "dst") // both-direction survivors: same sim
        .withColumn("ur", row_number().over(Window.partitionBy("src")
          .orderBy(col("sim").desc, col("dst").asc)))
        .filter(col("ur") <= 2 * m)
        .select(col("src"), col("dst"))
        .persistTracked() // read twice by the sibling self-join
      val siblings = und.as("e1").join(und.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(col("e1.dst").as("vec_a"), col("e2.dst").as("vec_b"))
      val cand = siblings
        .unionByName(und.select(least(col("src"), col("dst")).as("vec_a"),
          greatest(col("src"), col("dst")).as("vec_b")))
        .distinct()
      val rescored = cand
        .join(embN.select(col("vec_id").as("vec_a"), col("e").as("e_a"),
          col("n").as("n_a")), "vec_a")
        .join(embN.select(col("vec_id").as("vec_b"), col("e").as("e_b"),
          col("n").as("n_b")), "vec_b")
        .select(col("vec_a"), col("vec_b"),
          round(dotProduct(col("e_a"), col("e_b"))
            / (col("n_a") * col("n_b")), 6).as("sim"))
      cut = topM(rescored)
    }
    cut
      .join(emb.select(col("vec_id").as("dst"),
        asDouble(col("embedding")).as("dst_emb"),
        l2Norm(col("embedding")).as("dst_nrm")), "dst")
      .select(col("src"), col("dst"), col("sim"), col("rank"),
        col("dst_emb"), col("dst_nrm")) // one field order across all files
      .withColumn("src_bucket", col("src") % nBuckets)
      // co-locate each bucket's rows before the partitioned write: ONE
      // file per bucket instead of (upstream tasks × buckets) shards —
      // the serving read's cost is footer count, not bytes, and a graph
      // sized for 100 TB sizes nBuckets up so file-per-bucket holds there
      .repartition(col("src_bucket"))
      .write.mode("overwrite").partitionBy("src_bucket")
      .parquet(s"$path/edges")
  }

  /** Incremental ANN maintenance — the [[VectorIndex.append]] contract
    * for the graph layout: absorb a batch of NEW vectors into a built
    * graph by finding each one's neighbors WITH THE GRAPH'S OWN SEARCH
    * (the HNSW insertion algorithm: insert = search + link), then
    * appending forward edges (new → found, ranked 1..m) and back-links
    * (found → new, rank 0 — the "appended, pending compaction re-rank"
    * sentinel: existing nodes' files are never rewritten, so their
    * degree may transiently exceed m; search reads edges regardless of
    * rank, and a rebuild re-prunes). Only the touched src_bucket
    * partitions receive files; probes see old and new nodes identically.
    * At 100 TB this is what makes the graph a refreshable serving
    * artifact: an ingest batch costs |batch| bounded beam searches, not
    * a corpus rebuild.
    *
    * @return the forward edges (query_id=new node, neighbor_id, rank,
    *         sim) the append linked, for observability/gating */
  def append(spark: SparkSession, path: String, newEmb: DataFrame,
      corpus: DataFrame, m: Int, beamWidth: Int, rounds: Int,
      nBuckets: Int, nEntries: Int, bulkThreshold: Int = 1024,
      bulkHint: Option[Boolean] = None): DataFrame = {
    // Route the insertion search by batch size: the driver-map probe
    // form is fastest for bounded batches, but its state (and the
    // literal-IN vector attach below) grows with |batch| — past
    // `bulkThreshold` the batch goes through [[beamSearchBulk]], whose
    // walk state is checkpointed DataFrames (row-for-row equivalent,
    // NeighborGraphSpec-proven), so one append call absorbs an ingest
    // batch of any size. Callers that KNOW their batch's side of the
    // threshold pass `bulkHint` and skip the routing probe — the probe
    // is one extra Spark job (~0.15-0.2s at local[32] regardless of
    // data), a real tax on the small-batch ingest path it was never
    // meant to affect.
    val isBulk = bulkHint.getOrElse(
      newEmb.limit(bulkThreshold + 1).count() > bulkThreshold)
    val found =
      if (isBulk) beamSearchBulk(spark, path, newEmb, corpus, k = m,
        beamWidth = beamWidth, rounds = rounds, nBuckets = nBuckets,
        nEntries = nEntries)
      else beamSearch(spark, path, newEmb, corpus, k = m,
        beamWidth = beamWidth, rounds = rounds, nBuckets = nBuckets,
        nEntries = nEntries)
    // Attach the stored-vector columns: forward edges carry the FOUND
    // neighbor's vector (bounded probe batch: literal-IN corpus read of
    // ≤ |batch|·m ids; bulk batch: a distributed semi-join instead),
    // back-links carry the NEW vector's (already in the batch).
    val nbrEmbAll = corpus.select(col("vec_id").as("dst"),
      asDouble(col("embedding")).as("dst_emb"),
      l2Norm(col("embedding")).as("dst_nrm"))
    val fwdBare = found.select(col("query_id").as("src"),
      col("neighbor_id").as("dst"), col("sim"), col("rank"))
    // Buckets this append will write (fwd srcs = new nodes, back srcs =
    // found neighbors) — recorded in the pending manifest BEFORE the
    // edges land so [[compact]]'s discovery scan is churn-proportional
    // (manifest-scoped, partition-pruned) instead of a full-graph pass.
    // A crash between manifest and edges leaves a superset manifest:
    // the next compact scans those buckets, finds nothing pending, and
    // consumes the entry — conservative, never silent.
    // bounded probe batch: ≤ |batch|·m rows — ONE collect serves both
    // the bucket manifest and the literal-IN vector attach (empty for
    // the bulk route, which derives both distributively)
    val pairs: Array[(Long, Long)] =
      if (isBulk) Array.empty
      else found.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    val touchedBuckets: Seq[Long] =
      if (isBulk)
        // bulk batch: one tiny distinct job, bounded by nBuckets
        found.select(explode(array(col("query_id") % nBuckets,
            col("neighbor_id") % nBuckets)).as("b"))
          .distinct().collect().map(_.getAs[Number](0).longValue).sorted.toSeq
      else pairs.flatMap(p => Seq(p._1 % nBuckets, p._2 % nBuckets))
        .distinct.sorted.toSeq
    val fwd =
      if (isBulk) fwdBare.join(nbrEmbAll, "dst")
      else {
        val foundIds = pairs.map(_._2).distinct.sorted
        fwdBare.join(broadcast(
          nbrEmbAll.filter(col("dst").isin(foundIds: _*))), "dst")
      }
    val newVec = newEmb.select(col("vec_id").as("dst"),
      asDouble(col("embedding")).as("dst_emb"),
      l2Norm(col("embedding")).as("dst_nrm"))
    val back = found.select(col("neighbor_id").as("src"),
        col("query_id").as("dst"), col("sim"), lit(0).as("rank"))
      .join(if (isBulk) newVec else broadcast(newVec), "dst")
    writePendingManifest(path, touchedBuckets)
    fwd.unionByName(back)
      .select(col("src"), col("dst"), col("sim"), col("rank"),
        col("dst_emb"), col("dst_nrm"))
      .withColumn("src_bucket", col("src") % nBuckets)
      // one appended file per touched bucket, not (tasks × buckets):
      // serving reads pay per-FILE footer cost, and an ingest cadence of
      // many small appends would otherwise shard the layout into
      // hundreds of tiny files between compactions (the round-14 q345
      // regression — 455 files at sf0.1 — was exactly this)
      .repartition(col("src_bucket"))
      .write.mode("append").partitionBy("src_bucket")
      .parquet(s"$path/edges")
    // hierarchical layout: batch members the sampling rule selects must
    // enter the coarse layer too (HNSW assigns insert levels; here the
    // level rule is the deterministic id modulus), or the hierarchy
    // serves stale entry points as the corpus grows. One limit(1) probe
    // decides emptiness; flat layouts skip on a file check alone.
    l1ModOf(path).foreach { mod =>
      val sampled = newEmb.filter(col("vec_id") % mod === 0)
      if (sampled.limit(1).count() > 0) {
        append(spark, s"$path/l1", sampled,
          corpus.filter(col("vec_id") % mod === 0), m, beamWidth, rounds,
          nBuckets, nEntries, bulkThreshold, bulkHint)
        ()
      }
    }
    found
  }

  /** Node deletion — the RTBF/forget contract for the graph layout,
    * partition-scoped (the lakehouse DELETE-WHERE shape): remove every
    * edge that touches a deleted node by rewriting ONLY the buckets that
    * hold one. Out-edge buckets are known arithmetically (id % nBuckets);
    * back-link buckets come from one dst-pushdown scan. Each touched
    * bucket is read, filtered, written to a private sibling, and swapped
    * in — untouched buckets' files are never opened, so a bounded delete
    * batch (RTBF requests, not corpus-scale churn — the literal-IN
    * convention) costs touched-fraction I/O however large the graph.
    * After deletion the graph serves exactly as if the nodes had never
    * been inserted: append(batch) followed by delete(batch) restores the
    * base edge relation verbatim (appended edges all touch the batch),
    * which is what q347/q348 hash-gate. A [[buildHier]] layout's coarse
    * layer (`path/l1`) is a full copy of the sampled nodes' adjacency
    * (plus dst_emb vector copies), and coarse-layer visits carry into
    * [[beamSearchHier]]'s answer — so the RTBF contract requires the
    * same bucket-scoped rewrite THERE too; delete recurses into the l1
    * layout when present.
    *
    * @return the ids of SURVIVING nodes that lost an out-edge (their dst
    *         was deleted) — the blast radius [[repair]] takes to restore
    *         those nodes' degree without a graph-wide scan */
  def delete(spark: SparkSession, path: String, ids: Seq[Long],
      nBuckets: Int): Seq[Long] = {
    if (ids.isEmpty) return Seq.empty
    recoverSwaps(path) // heal any interrupted prior rewrite before reading
    val edges = spark.read.parquet(s"$path/edges")
    // ONE dst-pushdown scan yields both the back-link buckets to rewrite
    // and the survivors whose out-degree the delete reduces
    val backRows = edges.filter(col("dst").isin(ids: _*))
      .select(col("src_bucket"), col("src")).distinct()
      .collect().map(r => (r.getAs[Number](0).longValue, r.getLong(1)))
    val backBuckets = backRows.map(_._1).distinct
    val idSet = ids.toSet
    val affected = backRows.map(_._2).distinct.filterNot(idSet).sorted.toSeq
    val touched = (ids.map(_ % nBuckets) ++ backBuckets).distinct.sorted
    touched.foreach { b =>
      val dir = java.nio.file.Paths.get(s"$path/edges/src_bucket=$b")
      if (java.nio.file.Files.isDirectory(dir)) {
        // Bind the scan to the CURRENT files: the swap replaces the dir
        // out from under a path-based lazy plan.
        val kept = spark.read.parquet(dir.toString)
          .filter(!col("src").isin(ids: _*) && !col("dst").isin(ids: _*))
        AtomicSwap.swap(java.nio.file.Paths.get(path), b.toString, dir) { tmp =>
          kept.write.mode("overwrite").parquet(tmp.toString)
        }
      }
    }
    // hierarchical layout: the coarse layer stores sampled nodes'
    // adjacency + vectors — scrub it with the same bucket-scoped
    // protocol, and surface ITS blast radius too (an l1 edge to a victim
    // may have no base twin, so the union is what repair needs)
    val l1Affected =
      if (java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$path/l1/edges")))
        delete(spark, s"$path/l1", ids, nBuckets)
      else Seq.empty
    (affected ++ l1Affected).distinct.sorted
  }

  /** Delete-repair — restore navigability after RTBF churn: [[delete]]
    * removes every edge touching a deleted node but never re-links the
    * survivors that lost out-edges, so nodes whose neighbor lists pointed
    * at deleted vectors keep permanently reduced degree ([[compact]] only
    * re-CUTS, it never ADDS). For each candidate src whose current degree
    * fell below `m`, repair re-runs the BUILD's candidate generation
    * scoped to that node — its hyperplane-LSH collisions against the
    * surviving corpus ([[Similarity.lshBucketTable]], the exact bucket
    * arithmetic the build used), exact-reranked and re-cut to top-m by
    * (sim DESC, dst ASC) — and rewrites ONLY the deficient srcs' buckets
    * (crash-atomic, [[AtomicSwap]]).
    *
    * Why LSH-scoped rather than insert-style search: a deficient node's
    * scoped collisions over the survivors are EXACTLY the candidate set a
    * full rebuild would give it, and a node that lost no edge already
    * holds its rebuild edge set (its top-m never pointed at a deleted
    * node), so repair restores the relation a never-deleted build over
    * the survivors would produce VERBATIM — measured against the
    * alternative, insertion-search repair on this corpus plateaued at
    * recall 0.37 vs rebuild 0.44 (the search is budget-bound on isotropic
    * data; NeighborGraphSpec documents the parity claim). Exact parity
    * holds for refineRounds = 0 builds (refined builds get approximate
    * parity: the scoped pass regenerates LSH candidates, not descent
    * siblings). Candidates come from [[delete]]'s return value — the
    * blast radius — so repair costs one linear corpus hashing pass (the
    * build's first stage, no self-join: the deficient side is broadcast)
    * plus touched-fraction I/O, never a pairwise or graph-wide pass.
    * Forward-only re-link (no rank-0 back-links): repair never creates
    * pending state, so repair-then-compact stays the identity.
    *
    * @return the repaired srcs' new edge rows (src, dst, sim, rank) for
    *         observability/gating */
  def repair(spark: SparkSession, path: String, candidates: Seq[Long],
      corpus: DataFrame, m: Int, numTables: Int, planesPerTable: Int,
      nBuckets: Int): DataFrame = {
    import spark.implicits._
    recoverSwaps(path)
    val empty = Seq.empty[(Long, Long, Double, Int)]
      .toDF("src", "dst", "sim", "rank")
    if (candidates.isEmpty) return empty
    // deficient = candidates whose CURRENT degree < m; a src's out-edges
    // all live in bucket src % nBuckets, so this is a partition-pruned
    // scan of the candidates' buckets only (the frontierEdges contract)
    val edges = spark.read.parquet(s"$path/edges")
    val present = frontierEdges(edges, candidates, nBuckets)
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= m).select(col("src"))
      .collect().map(_.getLong(0)).toSet
    val deficient = candidates.filterNot(present).sorted
    if (deficient.isEmpty) return empty
    // scoped candidate generation: the deficient nodes' bucket rows are a
    // broadcast-sized slice of the corpus bucket table; collisions come
    // from ONE equi-join, never a bucket self-join
    import graft.CacheLifecycle.TrackedPersistOps
    val buckets = Similarity
      .lshBucketTable(corpus, numTables, planesPerTable)
      .persistTracked() // read twice: the deficient slice + the join side
    val defB = buckets.filter(col("vec_id").isin(deficient: _*))
      .withColumnRenamed("vec_id", "src")
    val cand = broadcast(defB)
      .join(buckets.withColumnRenamed("vec_id", "dst"),
        Seq("table_id", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val embN = corpus.select(col("vec_id"),
      asDouble(col("embedding")).as("e"), l2Norm(col("embedding")).as("n"))
    val merged = cand
      .join(broadcast(embN.filter(col("vec_id").isin(deficient: _*))
        .select(col("vec_id").as("src"), col("e").as("e_s"),
          col("n").as("n_s"))), "src")
      .join(embN.select(col("vec_id").as("dst"), col("e").as("dst_emb"),
        col("n").as("dst_nrm")), "dst")
      .select(col("src"), col("dst"),
        round(dotProduct(col("e_s"), col("dst_emb"))
          / (col("n_s") * col("dst_nrm")), 6).as("sim"),
        col("dst_emb"), col("dst_nrm"))
      .withColumn("rank", row_number().over(Window.partitionBy("src")
        .orderBy(col("sim").desc, col("dst").asc)))
      .filter(col("rank") <= m)
      .select(col("src"), col("dst"), col("sim"), col("rank"),
        col("dst_emb"), col("dst_nrm"))
      .withColumn("src_bucket", col("src") % nBuckets)
    val mergedP = merged.persistTracked() // read once per touched bucket
    deficient.map(_ % nBuckets).distinct.sorted.foreach { b =>
      val dir = java.nio.file.Paths.get(s"$path/edges/src_bucket=$b")
      val mine = mergedP.filter(col("src_bucket") === b).drop("src_bucket")
      if (java.nio.file.Files.isDirectory(dir)) {
        val others = spark.read.parquet(dir.toString)
          .filter(!col("src").isin(deficient: _*))
          .select(col("src"), col("dst"), col("sim"), col("rank"),
            col("dst_emb"), col("dst_nrm"))
        AtomicSwap.swap(java.nio.file.Paths.get(path), b.toString, dir) {
          tmp => mine.unionByName(others)
            .write.mode("overwrite").parquet(tmp.toString)
        }
      } else
        // the whole bucket was deleted out from under its srcs — nothing
        // to preserve, the repaired edges re-create the directory
        mine.write.mode("overwrite").parquet(dir.toString)
    }
    // hierarchical layout: re-link the coarse layer's deficient members
    // with the same scoped pass over the SAMPLED survivor corpus — the
    // per-layer degree check inside the recursion scopes the work
    l1ModOf(path).foreach { mod =>
      val l1Cand = candidates.filter(_ % mod == 0)
      if (l1Cand.nonEmpty) {
        repair(spark, s"$path/l1", l1Cand,
          corpus.filter(col("vec_id") % mod === 0), m, numTables,
          planesPerTable, nBuckets)
        ()
      }
    }
    mergedP.select(col("src"), col("dst"), col("sim"), col("rank"))
  }

  /** Heal interrupted bucket rewrites (delete/compact/repair) — invoked
    * at the entry of every maintenance verb AND every serving/read verb
    * (recovery is one directory listing when there is nothing to heal;
    * without it a crash in the post-commit window would leave a bucket
    * directory missing and a restarted server silently serving a graph
    * missing that bucket until the next maintenance call); see
    * [[AtomicSwap]]. Heals the coarse layer of a [[buildHier]] layout
    * too when one exists. */
  def recoverSwaps(path: String): Unit = {
    AtomicSwap.recover(java.nio.file.Paths.get(path),
      tag => java.nio.file.Paths.get(s"$path/edges/src_bucket=$tag"))
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$path/l1")))
      AtomicSwap.recover(java.nio.file.Paths.get(s"$path/l1"),
        tag => java.nio.file.Paths.get(s"$path/l1/edges/src_bucket=$tag"))
  }

  /** The pending-bucket manifest: [[append]] records which src_buckets it
    * wrote (one tiny text sidecar per append under `$path/pending/`, each
    * written to a dot-prefixed temp and atomically moved in), so
    * [[compact]]'s pending-src discovery scans ONLY the appended-to
    * buckets — churn-proportional maintenance instead of a full-index
    * pass. Manifest entries are consumed (deleted) by the compact that
    * read them; a crash between the bucket swaps and the consume leaves
    * the entries behind, and the next compact re-scans those buckets,
    * finds nothing pending, and consumes them — idempotent. */
  private def writePendingManifest(path: String, buckets: Seq[Long]): Unit = {
    if (buckets.isEmpty) return
    val dir = java.nio.file.Paths.get(s"$path/pending")
    java.nio.file.Files.createDirectories(dir)
    val name = s"append_${java.util.UUID.randomUUID().toString}.txt"
    val tmp = dir.resolve(s".$name")
    java.nio.file.Files.write(tmp,
      buckets.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Read (without consuming) the pending manifest: `Some(buckets)` when
    * a manifest directory exists — possibly empty after full consumption
    * — `None` when the layout predates the manifest discipline (compact
    * then falls back to full-graph discovery). Also returns the manifest
    * file paths so the consuming compact can delete exactly what it
    * read. */
  private[graft] def readPendingManifest(
      path: String): Option[(Seq[Long], Seq[java.nio.file.Path])] = {
    val dir = java.nio.file.Paths.get(s"$path/pending")
    if (!java.nio.file.Files.isDirectory(dir)) return None
    val s = java.nio.file.Files.list(dir)
    val files = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".txt"))
        .filterNot(_.getFileName.toString.startsWith(".")).toSeq
    } finally s.close()
    val buckets = files.flatMap { f =>
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong)
    }.distinct.sorted
    Some((buckets, files))
  }

  /** Compaction — the maintenance verb [[append]] prices via the rank-0
    * sentinel (the q351 decision's "compact" branch): appends leave
    * back-links that overflow node degrees past the build cap and carry
    * rank 0 ("pending re-rank"), degrading the top-m pruning contract.
    * Compact restores it by re-cutting each PENDING node — one whose
    * degree exceeds `m` or that holds a rank-0 edge — to its top-m
    * out-edges by (sim DESC, dst ASC) with ranks renumbered 1..m.
    *
    * Like [[delete]], the rewrite is partition-scoped: the discovery
    * aggregate finds the buckets holding a pending src (a src's
    * out-edges all live in bucket src % nBuckets, so per-src degree is
    * bucket-local), and ONLY those buckets are rewritten
    * (crash-atomically, via [[AtomicSwap]]); within a rewritten bucket
    * every src is re-cut (within-cap srcs keep their full edge set — the
    * re-cut only renumbers their ranks on the same (sim DESC, dst ASC)
    * order the build used). Discovery itself is MANIFEST-SCOPED: append
    * records its touched buckets in `$path/pending` sidecars, so the
    * aggregate is a partition-pruned scan of only the appended-to
    * buckets (full-graph fallback for layouts that predate the
    * manifest); the entries are consumed on completion. Untouched
    * buckets' files are never opened: the cost is the append-churned
    * fraction of the graph, not its size — at 100 TB this is what lets
    * the maintenance loop run as a periodic bounded job instead of a
    * rebuild. */
  def compact(spark: SparkSession, path: String, m: Int,
      nBuckets: Int): Unit = {
    recoverSwaps(path)
    val edges = spark.read.parquet(s"$path/edges")
    val manifest = readPendingManifest(path)
    // discovery scan: pruned to the manifest's buckets when one exists
    val scanned = manifest match {
      case Some((bs, _)) =>
        if (bs.isEmpty) return // nothing appended since the last compact
        edges.filter(col("src_bucket").isin(bs: _*))
      case None => edges
    }
    val touched = scanned.groupBy(col("src")).agg(count(lit(1)).as("d"),
        sum(when(col("rank") === 0, 1L).otherwise(0L)).as("z"))
      .filter(col("d") > m || col("z") > 0)
      .select((col("src") % nBuckets).as("b")).distinct()
      .collect().map(_.getAs[Number](0).longValue).sorted
    touched.foreach { b =>
      val dir = java.nio.file.Paths.get(s"$path/edges/src_bucket=$b")
      if (java.nio.file.Files.isDirectory(dir)) {
        val recut = spark.read.parquet(dir.toString)
          .withColumn("rank", row_number().over(Window.partitionBy("src")
            .orderBy(col("sim").desc, col("dst").asc)))
          .filter(col("rank") <= m)
          .select(col("src"), col("dst"), col("sim"), col("rank"),
            col("dst_emb"), col("dst_nrm"))
        AtomicSwap.swap(java.nio.file.Paths.get(path), b.toString, dir) {
          tmp => recut.write.mode("overwrite").parquet(tmp.toString)
        }
      }
    }
    // consume the manifest entries this compact serviced; a crash before
    // this point re-scans (and re-finds nothing in) them next time
    manifest.foreach { case (_, files) =>
      files.foreach(java.nio.file.Files.deleteIfExists)
    }
  }

  /** Deterministic entry points: the `n` smallest node ids in the graph.
    * Multiple entries are the standard navigability fix for a flat k-NN
    * graph (no hierarchy, no long-range links): ids are uncorrelated
    * with embedding position, so the smallest n ids are n independent
    * starts — still fully deterministic.
    *
    * Memoized on the layout's LISTING fingerprint (the [[graft.Stage]]
    * staleness discipline — relative path + size + mtime, no data read):
    * repeated serving probes of an immutable staged graph skip the scan,
    * while any append/delete changes the listing and invalidates. */
  def entryNodes(spark: SparkSession, path: String, n: Int): Seq[Long] = {
    // serving verbs heal interrupted rewrites too (one directory listing
    // when clean) — a crash mid-delete/compact must not leave a restarted
    // server silently reading a layout with a missing bucket. Recovery
    // runs BEFORE fingerprinting so the healed listing keys the memo.
    recoverSwaps(path.stripSuffix("/l1"))
    // bound the memo: each append/delete mints a new fingerprint, so a
    // long ingest stream would otherwise grow it one (tiny) entry per
    // batch — clearing wholesale is fine, entries are one scan to rebuild
    if (entryMemo.size > 1024) entryMemo.clear()
    val key = (path, n, graft.Stage.fingerprint(s"$path/edges"))
    entryMemo.computeIfAbsent(key, _ =>
      spark.read.parquet(s"$path/edges").select(col("src")).distinct()
        .orderBy(col("src")).limit(n).collect().map(_.getLong(0)).toSeq)
  }
  private val entryMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, String), Seq[Long]]()

  /** The per-round frontier read: edges of the given src ids, as a
    * partition-pruned (src_bucket IN buckets-of-frontier) +
    * predicate-pushdown (src IN frontier) scan of the staged layout.
    * Exposed so the pruning contract is plan-assertable in tests —
    * a search round reads only the frontier's partitions, never the
    * whole graph. */
  def frontierEdges(spark: SparkSession, path: String, srcIds: Seq[Long],
      nBuckets: Int): DataFrame =
    frontierEdges(spark.read.parquet(s"$path/edges"), srcIds, nBuckets)

  /** Same contract over a pre-read edges relation — the serving loop
    * reads the layout ONCE and filters it per round, so schema
    * inference/footer listing is not re-paid every round. */
  def frontierEdges(edges: DataFrame, srcIds: Seq[Long],
      nBuckets: Int): DataFrame =
    edges
      .filter(col("src_bucket").isin(srcIds.map(_ % nBuckets).distinct: _*)
        && col("src").isin(srcIds: _*))

  /** Greedy beam search: top-k exact-cosine neighbors of each query among
    * the nodes the beam visits. Returns (query_id, neighbor_id, rank,
    * sim); rank 1..k by (sim DESC, neighbor ASC), the query's own node
    * excluded from the answer (it still navigates — its out-edges are the
    * best possible frontier when the walk reaches it). */
  def beamSearch(spark: SparkSession, path: String, queries: DataFrame,
      corpus: DataFrame, k: Int, beamWidth: Int, rounds: Int,
      nBuckets: Int, nEntries: Int = 1): DataFrame = {
    // Serving-loop conf scope: each round's plan embeds fresh literal IN
    // lists, so whole-stage codegen recompiles per round (~100ms) to
    // execute over ≤ beam·m rows, and AQE re-plans a query whose every
    // exchange is a broadcast — both are pure overhead at probe
    // cardinality. Interpreted eval is exact (DotProductExpr.nullSafeEval
    // is the same double arithmetic), so results are unchanged.
    val entries = entryNodes(spark, path, nEntries)
    GraftSession.withConfs(spark, searchConfs) {
      beamSearchPhases(spark, queries, corpus, k,
        Seq(SearchPhase(s"$path/edges", beamWidth, rounds, nBuckets)), entries)
    }
  }

  /** Metadata-filtered beam search — the filtered-expansion form (the
    * most common real vector-store operation: top-k among vectors whose
    * label/source/date matches a predicate). The WALK is unfiltered —
    * navigation must route through non-matching nodes or the graph loses
    * connectivity under selective predicates (the ACORN observation) —
    * and the ANSWER is the top-k of the visited set restricted to
    * `allowed` (a one-column vec_id relation, i.e. the predicate pushed
    * into a metadata scan). This under-returns strictly less than
    * post-filtering the unfiltered top-k: the filter sees the WHOLE
    * visited set (queries·rounds·beam·m candidates), not k rows —
    * NeighborGraphSpec proves the gap on a selective predicate.
    * Membership is resolved by ONE semi-join of the bounded visited-node
    * list against `allowed` (predicate + vec_id pushdown reach the
    * metadata scan), never by collecting `allowed`. */
  def beamSearchWhere(spark: SparkSession, path: String, queries: DataFrame,
      corpus: DataFrame, allowed: DataFrame, k: Int, beamWidth: Int,
      rounds: Int, nBuckets: Int, nEntries: Int = 1): DataFrame =
    beamSearchWhereArms(spark, path, queries, corpus,
      Seq(("only", allowed)), k, beamWidth, rounds, nBuckets, nEntries)
      .drop("arm")

  /** [[beamSearchWhere]] for SEVERAL predicates at once: the walk — the
    * expensive stage, and identical under every answer filter — runs
    * ONCE, and each named `arms` relation ranks its own filtered answer
    * from the shared visited set (one membership job total). The
    * serving shape for a store answering the same query under many
    * tenant/label filters.
    * @return (arm, query_id, neighbor_id, rank, sim) */
  def beamSearchWhereArms(spark: SparkSession, path: String,
      queries: DataFrame, corpus: DataFrame, arms: Seq[(String, DataFrame)],
      k: Int, beamWidth: Int, rounds: Int, nBuckets: Int,
      nEntries: Int = 1): DataFrame = {
    val entries = entryNodes(spark, path, nEntries)
    GraftSession.withConfs(spark, searchConfs) {
      beamSearchPhases(spark, queries, corpus, k,
        Seq(SearchPhase(s"$path/edges", beamWidth, rounds, nBuckets)),
        entries, arms = Some(arms))
    }
  }

  /** A search phase: walk the staged edge relation at `edgesPath` for
    * `rounds` rounds at `beamWidth`. Chained phases share one visited
    * set — the HNSW descent shape (coarse layer seeds the base layer). */
  case class SearchPhase(edgesPath: String, beamWidth: Int, rounds: Int,
      nBuckets: Int)

  /** Hierarchical (two-layer) build: the base graph at `path` plus a
    * deterministically id-sampled coarse layer (`vec_id % l1Mod = 0` —
    * ids are uncorrelated with embedding position, so this is uniform
    * sampling any SQL engine restates) at `path/l1`, each built with the
    * same LSH-seeded machinery. Searching walks the coarse layer first,
    * which lands the base walk's entry points NEAR the query — the HNSW
    * hierarchy fix for greedy-walk locality on a flat graph. */
  def buildHier(emb: DataFrame, path: String, m: Int, numTables: Int,
      planesPerTable: Int, nBuckets: Int, refineRounds: Int,
      l1Mod: Int): Unit = {
    build(emb, path, m, numTables, planesPerTable, nBuckets, refineRounds)
    build(emb.filter(col("vec_id") % l1Mod === 0), s"$path/l1", m,
      numTables, planesPerTable, nBuckets, refineRounds)
    // record the sampling modulus IN the layout: the maintenance verbs
    // (append/delete/repair) need it to keep the coarse layer in sync
    // without the caller re-supplying build-time parameters
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/l1/_L1MOD"),
      l1Mod.toString.getBytes("UTF-8"))
    ()
  }

  /** The coarse layer's sampling modulus, read back from the layout —
    * None for flat layouts or pre-modulus hierarchical ones (whose
    * coarse layer then stays maintenance-frozen, as before). */
  private def l1ModOf(path: String): Option[Long] = {
    val f = java.nio.file.Paths.get(s"$path/l1/_L1MOD")
    if (!java.nio.file.Files.exists(f)) None
    else Some(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      .trim.toLong)
  }

  /** Two-phase search over a [[buildHier]] layout: a short coarse-layer
    * walk (l1Beam/l1Rounds over `path/l1`) seeds the visited set, then
    * the base walk continues from its best hits instead of from global
    * entry points. Same exact arithmetic and tie-breaks as [[beamSearch]];
    * every coarse visit carries into the answer (an L1 node IS a corpus
    * node), so the budget the two walks spend is the total visited set. */
  def beamSearchHier(spark: SparkSession, path: String, queries: DataFrame,
      corpus: DataFrame, k: Int, l1Beam: Int, l1Rounds: Int, beamWidth: Int,
      rounds: Int, nBuckets: Int, nEntries: Int): DataFrame = {
    val entries = entryNodes(spark, s"$path/l1", nEntries)
    GraftSession.withConfs(spark, searchConfs) {
      beamSearchPhases(spark, queries, corpus, k,
        Seq(SearchPhase(s"$path/l1/edges", l1Beam, l1Rounds, nBuckets),
          SearchPhase(s"$path/edges", beamWidth, rounds, nBuckets)), entries)
    }
  }

  /** Distributed bulk k-NN join — [[beamSearch]] for CORPUS-SCALE query
    * batches (the self-improvement loop of semantic dedup: every document
    * probes the graph). The per-probe form holds (query, node, sim)
    * triples and the adjacency cache on the driver — right for bounded
    * probe batches, a ceiling for 10⁴+ queries. Here the walk state is a
    * DataFrame: per round one window top-`beamWidth` per query (the
    * beam), one src-keyed shuffle join against the staged edges (which
    * carry their dst vectors — no corpus join), an anti-join against the
    * visited set, and scoring inside the same plan; the rounds run through
    * [[graft.operators.Fixpoint.untilStable]] (visited checkpointed per
    * round) and the loop exits at the score fixpoint. Identical
    * arithmetic, tie-breaks, and round structure to the driver form —
    * q357 hash-gates the equivalence on the shared oracle; ScaleStress
    * runs the batch sizes the driver map cannot. */
  def beamSearchBulk(spark: SparkSession, path: String, queries: DataFrame,
      corpus: DataFrame, k: Int, beamWidth: Int, rounds: Int,
      nBuckets: Int, nEntries: Int = 1,
      allowed: Option[DataFrame] = None): DataFrame = {
    recoverSwaps(path) // serving heals interrupted rewrites before reading
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("q_emb"),
      l2Norm(col("embedding")).as("q_nrm"))
    val edges = spark.read.parquet(s"$path/edges")
    val entries = entryNodes(spark, path, nEntries)
    val entVecs = corpus.filter(col("vec_id").isin(entries: _*))
      .select(col("vec_id").as("node"),
        asDouble(col("embedding")).as("n_emb"),
        l2Norm(col("embedding")).as("n_nrm"))
    def simCol(e: Column, n: Column): Column =
      round(dotProduct(col("q_emb"), e) / (col("q_nrm") * n), 6)
    val init = q.crossJoin(broadcast(entVecs))
      .select(col("query_id"), col("node"),
        simCol(col("n_emb"), col("n_nrm")).as("sim"))
    // ONE materializing action per round (Fixpoint.untilStable): the
    // round's heavy work (beam window + edge join + anti-join + scoring)
    // runs inside the union's checkpoint, and the fresh rows — anti-joined
    // against visited, so every one is new — are the round's changed rows,
    // counted in the same job. An empty round leaves the beam, hence every
    // later round, unchanged: the early exit cannot change the result.
    val walked = Fixpoint.untilStable(init, rounds) { (visited, _) =>
      val beam = visited
        .withColumn("rk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("node").asc)))
        .filter(col("rk") <= beamWidth)
        .select(col("query_id"), col("node").as("src"))
      // one src-keyed join fans the beam out along stored edges; dedupe
      // (query, dst) before scoring (copies carry identical vectors)
      val fresh = beam.join(edges, "src")
        .select(col("query_id"), col("dst"), col("dst_emb"), col("dst_nrm"))
        .dropDuplicates("query_id", "dst")
        .join(visited.select(col("query_id"), col("node").as("dst")),
          Seq("query_id", "dst"), "left_anti")
        .join(q, "query_id")
        .select(col("query_id"), col("dst").as("node"),
          simCol(col("dst_emb"), col("dst_nrm")).as("sim"))
      visited.withColumn(Fixpoint.Changed, lit(false))
        .unionByName(fresh.withColumn(Fixpoint.Changed, lit(true)))
    }.result
    // filtered answer (the beamSearchWhere contract, DataFrame form):
    // the walk stayed unfiltered; the top-k ranks only allowed members
    val admissible = allowed match {
      case Some(a) => walked.join(a.select(col("vec_id").as("node")),
        Seq("node"), "left_semi")
      case None => walked
    }
    admissible
      .filter(col("query_id") =!= col("node"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("node").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("node").as("neighbor_id"),
        col("rank"), col("sim"))
  }

  /** The serving-loop conf scope [[beamSearch]] explains. */
  private val searchConfs = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.adaptive.enabled" -> "false")

  /** Parameter-sweep serving: the SAME staged layout walked at several
    * (beamWidth, rounds) settings in one serving session with a SHARED
    * driver adjacency cache. Each walk's expansions, beams, scores, and
    * answer are identical to a standalone [[beamSearch]] at that setting
    * — the cache is content-addressed by src and scoring is deterministic,
    * so WHEN a src's out-edges were read cannot change any value — but a
    * src fetched by an earlier walk is never re-read, so a budget→recall
    * sweep (q356) pays roughly the widest walk's scan jobs instead of the
    * sum of all walks'. Returns one answer frame per setting, in order. */
  def beamSearchSweep(spark: SparkSession, path: String, queries: DataFrame,
      corpus: DataFrame, k: Int, settings: Seq[(Int, Int)], nBuckets: Int,
      nEntries: Int = 1): Seq[DataFrame] = {
    val entries = entryNodes(spark, path, nEntries)
    GraftSession.withConfs(spark, searchConfs) {
      beamSearchWalks(spark, queries, corpus, k,
        settings.map { case (bw, ro) =>
          Seq(SearchPhase(s"$path/edges", bw, ro, nBuckets)) },
        entries, arms = None)
    }
  }

  private def beamSearchPhases(spark: SparkSession, queries: DataFrame,
      corpus: DataFrame, k: Int, phases: Seq[SearchPhase],
      entries: Seq[Long],
      arms: Option[Seq[(String, DataFrame)]] = None): DataFrame =
    beamSearchWalks(spark, queries, corpus, k, Seq(phases), entries, arms).head

  private def beamSearchWalks(spark: SparkSession, queries: DataFrame,
      corpus: DataFrame, k: Int, walks: Seq[Seq[SearchPhase]],
      entries: Seq[Long],
      arms: Option[Seq[(String, DataFrame)]]): Seq[DataFrame] = {
    import spark.implicits._
    // Materialize the queries ONCE (bounded by the probe-batch contract).
    val qRows: Array[(Long, Array[Double], Double)] = queries
      .select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("q_emb"),
        l2Norm(col("embedding")).as("q_nrm"))
      .collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1).toArray, x.getDouble(2)))

    // Scoring happens on the DRIVER over the collected candidate vectors
    // (bounded by frontier·m rows — the same rows a join-side plan would
    // collect as triples, just with their stored vectors attached), so a
    // round is ONE pure partition-pruned scan: no broadcast exchanges, no
    // join, no per-round codegen. The arithmetic replicates the engine's
    // exactly: dot is DotProductDouble.nullSafeEval's left-to-right loop
    // over the min length; round is Round's DoubleType path
    // (BigDecimal(d).setScale(6, HALF_UP)) — bit-identical results, which
    // the unchanged DuckDB oracles re-verify end to end.
    def dot(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    // (dst, dst_emb, dst_nrm) rows; src = -1 marks entry-vector rows
    // (scored against every query), real src marks frontier-edge rows.
    val ENTRY = -1L
    val entVecs = corpus.filter(col("vec_id").isin(entries: _*))
      .select(lit(ENTRY).as("src"), col("vec_id").as("dst"),
        asDouble(col("embedding")).as("dst_emb"),
        l2Norm(col("embedding")).as("dst_nrm"))
    // visited: (query, node) -> sim. Bounded by queries·rounds·beam·m;
    // shared across a walk's phases (a coarse-layer visit is a real corpus
    // visit), reset between walks. The staged relations (footer listing),
    // the adjacency cache, and the entry-vector rows ARE shared across
    // walks — content-addressed by src / constant, so identical whichever
    // walk fetches them first.
    var visited = Map.empty[(Long, Long), Double]
    val edgesByPath = scala.collection.mutable.Map.empty[String, DataFrame]
    val adjByPath = scala.collection.mutable.Map
      .empty[String, Map[Long, Array[(Long, Array[Double], Double)]]]
    var entryRows: Array[(Long, Long, Array[Double], Double)] = null
    val qv = qRows.map(x => x._1 -> ((x._2, x._3))).toMap
    def score(qid: Long, dst: Long, e: Array[Double], n: Double): Unit =
      if (!visited.contains((qid, dst))) {
        val (qe, qn) = qv(qid)
        visited += (qid, dst) -> round6(dot(qe, e) / (qn * n))
      }
    def drain(df: DataFrame): Array[(Long, Long, Array[Double], Double)] =
      df.collect().map(x =>
        (x.getLong(0), x.getLong(1), x.getSeq[Double](2).toArray,
          x.getDouble(3)))
    def beamOf(beamWidth: Int): Seq[(Long, Long)] =
      visited.toSeq.groupBy(_._1._1).toSeq.flatMap { case (_, ent) =>
        ent.sortBy { case ((_, node), sim) => (-sim, node) }
          .take(beamWidth).map(_._1)
      }
    val visitedPerWalk = walks.map { phases =>
      visited = Map.empty
      phases.zipWithIndex.foreach { case (ph, phaseIdx) =>
        // The layout is read ONCE per path across the whole serving
        // session; rounds filter this relation (planning-time pruning
        // still applies — the filters are literal).
        val edges = edgesByPath.getOrElseUpdate(ph.edgesPath,
          spark.read.parquet(ph.edgesPath))
        // Driver adjacency cache (per path — relations differ): each src's
        // out-edges are READ once however many queries' beams — across
        // every walk of the session — pass through it; later rounds and
        // walks score from the cache (bounded by the rounds·beam·m budget).
        var adj = adjByPath.getOrElse(ph.edgesPath,
          Map.empty[Long, Array[(Long, Array[Double], Double)]])
        def edgeVecs(srcIds: Seq[Long]): DataFrame =
          frontierEdges(edges, srcIds, ph.nBuckets)
            .select(col("src"), col("dst"), col("dst_emb"), col("dst_nrm"))
        def fetch(srcIds: Seq[Long], withEntryVecs: Boolean): Unit = {
          val need = srcIds.distinct.filterNot(adj.contains).sorted
          val needEntries = withEntryVecs && entryRows == null
          val rows =
            if (needEntries && need.nonEmpty)
              drain(entVecs.unionByName(edgeVecs(need)))
            else if (needEntries) drain(entVecs)
            else if (need.nonEmpty) drain(edgeVecs(need))
            else Array.empty[(Long, Long, Array[Double], Double)]
          if (needEntries) entryRows = rows.filter(_._1 == ENTRY)
          adj ++= rows.filter(_._1 != ENTRY).groupBy(_._1)
            .view.mapValues(_.map(x => (x._2, x._3, x._4))).toMap
          // a read src with zero surviving rows must still memoize as empty
          adj ++= need.filterNot(adj.contains)
            .map(_ -> Array.empty[(Long, Array[Double], Double)])
          adjByPath(ph.edgesPath) = adj
          if (withEntryVecs)
            for ((qid, _, _) <- qRows; (_, dst, e, n) <- entryRows)
              score(qid, dst, e, n)
        }
        def expand(frontier: Seq[(Long, Long)]): Int = {
          val before = visited.size
          for ((qid, src) <- frontier; (dst, e, n) <- adj.getOrElse(src,
              Array.empty[(Long, Array[Double], Double)]))
            score(qid, dst, e, n)
          visited.size - before
        }
        var r = 0
        var frontier: Seq[(Long, Long)] = Seq.empty
        if (phaseIdx == 0 && entries.size <= ph.beamWidth) {
          // Round 1's frontier is ALL entries for every query regardless of
          // their scores (nEntries ≤ beamWidth ⇒ the beam over the entry
          // set cannot prune) — so entry vectors and the first expansion
          // are fetched by ONE unioned job instead of two.
          frontier = for ((qi, _, _) <- qRows.toSeq; e <- entries) yield qi -> e
          fetch(entries, withEntryVecs = true)
          expand(frontier)
          frontier = beamOf(ph.beamWidth)
          r = 1
        } else if (phaseIdx == 0) {
          fetch(Seq.empty, withEntryVecs = true)
          frontier = beamOf(ph.beamWidth)
        } else {
          // later phases start from the visited set the previous phase
          // built — the hierarchy descent (no entry scoring)
          frontier = beamOf(ph.beamWidth)
        }
        var fixpoint = false
        while (r < ph.rounds && frontier.nonEmpty && !fixpoint) {
          fetch(frontier.map(_._2), withEntryVecs = false)
          // a round that adds no score leaves the beam — hence every later
          // round — unchanged: stop early instead of re-walking the fixpoint
          fixpoint = expand(frontier) == 0
          frontier = beamOf(ph.beamWidth)
          r += 1
        }
      }
      visited
    }
    def topK(vis: Map[(Long, Long), Double],
        admit: Long => Boolean): Seq[(Long, Long, Int, Double)] =
      vis.toSeq
        .filter { case ((qi, node), _) => qi != node && admit(node) }
        .groupBy(_._1._1).toSeq.flatMap { case (qi, ent) =>
          ent.sortBy { case ((_, node), sim) => (-sim, node) }
            .take(k).zipWithIndex
            .map { case (((_, node), sim), i) => (qi, node, i + 1, sim) }
        }
    visitedPerWalk.map { vis =>
      arms match {
        case None => topK(vis, _ => true)
          .toDF("query_id", "neighbor_id", "rank", "sim")
        case Some(as) =>
          // filtered answers: restrict the visited set to each arm's
          // members via ONE unioned semi-join job — the visited-node list
          // is bounded (literal IN pushdown into the metadata scan), the
          // arm relations are not; the expensive walk above was shared
          val nodes = vis.keysIterator.map(_._2).toSeq.distinct.sorted
          val sets: Map[String, Set[Long]] =
            if (nodes.isEmpty) as.map(_._1 -> Set.empty[Long]).toMap
            else as.map { case (name, a) =>
                a.filter(col("vec_id").isin(nodes: _*))
                  .select(lit(name).as("arm"), col("vec_id"))
              }.reduce(_ unionByName _)
              .collect().map(r => (r.getString(0), r.getLong(1)))
              .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          as.flatMap { case (name, _) =>
            val set = sets.getOrElse(name, Set.empty)
            topK(vis, set.contains).map { case (qi, node, rk, sim) =>
              (name, qi, node, rk, sim) }
          }.toDF("arm", "query_id", "neighbor_id", "rank", "sim")
      }
    }
  }
}
