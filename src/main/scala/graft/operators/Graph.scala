package graft.operators

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterative graph analytics over edge DataFrames — the sparse-matrix
  * power-iteration family (PageRank here; the same execution shape serves
  * personalized PR, label propagation, HITS).
  *
  * Scale design: one iteration = one src-keyed join (contributions fan out
  * along edges) + one dst-keyed hash aggregation with map-side combine —
  * exactly two shuffles per round, both keyed on node ids, never wider
  * than the edge/node tables. Degrees and the node count are computed once
  * (degree table persisted — released via [[graft.CacheLifecycle]]); the
  * per-round rank table is node-sized. This is the standard Pregel/GraphX
  * message-passing shape restated declaratively so Catalyst plans the
  * joins (broadcast when ranks fit, sort-merge when they don't) and AQE
  * handles hub-node skew.
  */
object Graph {

  /** Deterministic integer-grid PageRank (Page et al. 1999; damping 0.85).
    *
    * Ranks live on the 1e-9 integer grid: each round's contribution
    * `round(0.85 · pr9(u) / deg(u))` is a double op on engine-identical
    * integer inputs snapped straight back to the grid, and the per-node
    * sum is EXACT integer arithmetic — order-independent across engines
    * and partitionings (a plain double PR sum's merge order would differ
    * run to run; the q120/q106 snapping convention applied to an
    * iterative fixpoint). Teleport mass `round(0.15 · 1e9 / |V|)` is the
    * same snap. The grid loses < 1e-9 of mass per hop — scoring noise
    * ~1e-7 after typical iteration counts, far below any ranking use —
    * in exchange for bit-reproducible ranks.
    *
    * Dangling mass is handled, not assumed away: the node set is
    * src ∪ dst, sink nodes (out-degree 0) keep a degree of 0 and their
    * mass `d9 = Σ pr9 over sinks` — an exact integer sum — is
    * redistributed uniformly each round as `round(0.85 · d9 / |V|)`
    * (Brin & Page's standard correction), and nodes with no in-edges
    * coalesce their contribution sum to 0 instead of dropping out. On a
    * graph with no sinks and no sources (the bidirected co-occurrence
    * construction) every correction term is exactly 0 and the ranks are
    * bit-identical to the uncorrected formulation. The per-round dangling
    * total is a one-row broadcast — no extra node-keyed shuffle.
    *
    * Iteration hygiene: the edge table is [[Fixpoint.srcPartitioned]],
    * so the out-degree aggregation and every round's contribution join
    * read it exchange-free, and the rounds run through [[Fixpoint.rounds]],
    * which checkpoints each round's node-sized rank table (one extra
    * node-sized job per round buys linear lineage).
    *
    * @param edges directed (src, dst) pairs, pre-deduplicated
    * @return (node, deg: long, pr9: long) — rank on the 1e-9 grid; one
    *         row for EVERY node in src ∪ dst, sinks included */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    import graft.CacheLifecycle.TrackedPersistOps
    val e = Fixpoint.srcPartitioned(edges)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .join(outDeg.select(col("src").as("node"), col("deg")), Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
      .persistTracked()
    val nV = nodes.agg(count(lit(1)).as("v"))
    val init = nodes.crossJoin(broadcast(nV))
      .select(col("node"), col("deg"),
        round(lit(1e9) / col("v")).cast("long").as("pr9"))
    Fixpoint.rounds(init, iters) { pr =>
      // sink mass this round — exact integer sum, one broadcast row
      // (coalesce: a sink-free graph aggregates over zero rows → NULL)
      val dang = pr.filter(col("deg") === 0)
        .agg(coalesce(sum(col("pr9")), lit(0L)).as("d9"))
      // sinks have no out-edges, so the src-keyed join never divides by 0
      val contrib = e.join(pr, e("src") === pr("node"))
        .select(col("dst"),
          round(lit(0.85) * col("pr9") / col("deg")).cast("long").as("c9"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c9")).as("s9"))
      nodes.join(sums, nodes("node") === sums("dst"), "left")
        .crossJoin(broadcast(nV)).crossJoin(broadcast(dang))
        .select(nodes("node"), nodes("deg"),
          (round(lit(0.15) * lit(1e9) / col("v")).cast("long") +
            round(lit(0.85) * col("d9") / col("v")).cast("long") +
            coalesce(col("s9"), lit(0L))).as("pr9"))
    }
  }

  /** Per-node triangle counts via degree-ordered edge orientation (the
    * Schank & Wagner 2005 / Suri & Vassilvitskii 2011 "MapReduce
    * triangles" scheme): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher, enumerate wedges at the
    * LOW-degree apex, and close each wedge with one join back to the
    * oriented edge list.
    *
    * Why orientation matters at scale: wedge count at a node is
    * C(out-degree, 2), and degree-ordering caps every out-degree at
    * O(√E) — a hub of degree 10⁶ contributes C(10⁶,2) wedges unoriented
    * but only wedges among its HIGHER-degree neighbors oriented. The
    * wedge endpoints are ordered by the same (deg, id) key as the
    * orientation, so a wedge's closing edge — if it exists — is oriented
    * exactly wedge-low → wedge-high: one equi-join, no union of probes.
    *
    * Each triangle is found exactly once (at its minimum-(deg, id)
    * vertex) and credits all three corners via a 3-way explode.
    *
    * @param pairs distinct undirected edges as (a, b) — any per-edge
    *              canonicalization accepted, duplicates must be removed
    * @return (node, n_triangles: long) for nodes in ≥ 1 triangle */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    import graft.CacheLifecycle.TrackedPersistOps
    val deg = pairs.select(col("a").as("n"))
      .unionByName(pairs.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // oriented edge list with the dst's ordering key carried for the
    // wedge comparison; persisted — read by the wedge self-join (twice)
    // and the closing-edge probe
    val e = pairs
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            struct(col("a").as("src"), col("b").as("dst"),
              struct(col("db").as("kdeg"), col("b").as("kid")).as("kd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            struct(col("da").as("kdeg"), col("a").as("kid")).as("kd"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.kd").as("kd"))
      .persistTracked()
    val tri = e.as("x").join(e.as("y"),
        col("x.src") === col("y.src") && col("x.kd") < col("y.kd"))
      .select(col("x.src").as("ta"), col("x.dst").as("tb"), col("y.dst").as("tc"))
      .join(e.select(col("src").as("tb"), col("dst").as("tc")), Seq("tb", "tc"))
    tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Iterative k-core peeling (Seidman 1983's "Network structure and
    * minimum degree" decomposition step): delete every node of degree
    * < k, recompute degrees, repeat to fixpoint. The surviving subgraph
    * is the k-core — the standard density filter for graph sampling and
    * community pre-processing.
    *
    * One Spark job per round, and no query plan per round: the symmetric
    * edge table is hash-partitioned by src ONCE (the exchange runs inside
    * round 1's job), so a node's degree is partition-local. Each round's
    * job materializes that round's edge table (a lazy local checkpoint)
    * and returns every partition's drop set (degree < k). The next table
    * filters both endpoints against the drop set as a broadcast variable —
    * no edge shuffle, no broadcast job, partitioning kept — and the
    * previous table is released once the next one has materialized. A
    * drop set past `broadcastDropMax` is never collected (a partition
    * stops at `broadcastDropMax + 1` nodes): that round instead sends each
    * edge whose src survives, reversed, to its dst's partition — one
    * edge-sized shuffle — where it survives iff the dst does too. Both
    * paths keep exactly the edges with two surviving endpoints.
    *
    * Convergence = a round that drops nothing; that confirming round
    * counts in `roundsRun`. Peeling is IDEMPOTENT past the fixpoint,
    * which is what lets a fixed-round oracle restatement equal the
    * converged answer as long as convergence happens within the unrolled
    * budget — callers who rely on that must check `converged` (q169
    * throws loudly if not, the clusterPairs precedent).
    *
    * @param pairs distinct undirected edges (a, b), non-null, any
    *              canonical order
    * @return FixpointResult whose table is (node, core_deg: long) — the
    *         degree WITHIN the k-core, for surviving nodes only; `node`
    *         keeps the type of the (a, b) columns */
  def kCore(pairs: DataFrame, k: Int, maxRounds: Int,
      broadcastDropMax: Long = 1L << 22): FixpointResult = {
    require(k >= 1, s"k must be >= 1; got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1; got $maxRounds")
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val bySrc = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    var edges: RDD[(Any, Any)] =
      sym.rdd.map(r => (r.get(0), r.get(1))).partitionBy(bySrc).localCheckpoint()
    val collectMax = math.min(broadcastDropMax, Int.MaxValue - 1L).toInt + 1
    var release: () => Unit = () => ()
    var round = 0
    var changed = true
    while (round < maxRounds && changed) {
      round += 1
      val drop = sc.runJob(edges, (it: Iterator[(Any, Any)]) =>
        degrees(it).iterator.collect { case (n, d) if d < k => n }
          .take(collectMax).toArray).flatten
      release() // this round's table has materialized
      if (drop.isEmpty) {
        changed = false
      } else {
        val prev = edges
        val next = if (drop.length <= broadcastDropMax) {
          val dropped = sc.broadcast(drop.toSet)
          release = () => { prev.unpersist(blocking = false); dropped.unpersist() }
          prev.mapPartitions(
            _.filter { case (s, d) => !dropped.value(s) && !dropped.value(d) },
            preservesPartitioning = true)
        } else {
          release = () => prev.unpersist(blocking = false)
          val reversed = prev.mapPartitions { it =>
            val part = it.toArray
            val deg = degrees(part.iterator)
            part.iterator.collect { case (s, d) if deg(s) >= k => (d, s) }
          }.partitionBy(bySrc)
          prev.zipPartitions(reversed, preservesPartitioning = true) { (mine, in) =>
            val deg = degrees(mine)
            in.filter { case (s, _) => deg.getOrElse(s, 0L) >= k }
          }
        }
        edges = next.localCheckpoint()
      }
    }
    val core = edges.mapPartitions(
      degrees(_).iterator.map { case (n, d) => Row(n, d) },
      preservesPartitioning = true)
    val schema = StructType(Seq(sym.schema("src").copy(name = "node"),
      StructField("core_deg", LongType, nullable = false)))
    FixpointResult(spark.createDataFrame(core, schema), converged = !changed,
      roundsRun = round)
  }

  /** Out-degree per src over one partition of an edge table. */
  private def degrees(it: Iterator[(Any, Any)]): mutable.HashMap[Any, Long] = {
    val deg = mutable.HashMap.empty[Any, Long]
    it.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
    deg
  }

  /** Connected components over an undirected pair list — the graph-family
    * face of [[graft.operators.Dedup.clusterPairs]]'s distributed
    * union-find (iterated star contraction, O(log) rounds, loud
    * iteration-cap failure). Returns (node, component) where component is
    * the minimum node id in the component — the same min-label contract
    * the DuckDB recursive-CTE oracle states. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    graft.operators.Dedup.clusterPairs(
        pairs.select(col("a").as("doc_a"), col("b").as("doc_b")))
      .select(col("doc_id").as("node"), col("cluster_rep").as("component"))

  /** Bounded-round single-source shortest paths — Bellman-Ford relaxation
    * as iterated min-plus: round i's distance table is the min of the
    * previous table and every edge-relaxed candidate. With INTEGER weights
    * the whole fixpoint is exact arithmetic — engine-portable at any
    * round count, the reason SSSP can be oracle-checked while
    * floating-point shortest paths could not.
    *
    * Per round: one src-keyed join (candidates fan out along edges) + one
    * node-keyed min aggregation with map-side combine — two shuffles,
    * both node/edge-bounded; the edge side reads the
    * [[Fixpoint.srcPartitioned]] cache. `rounds` bounds path length:
    * round r holds exact distances over paths of ≤ r edges (full
    * convergence needs |V|−1 rounds; scoring passes use small bounds).
    *
    * The loop is [[Fixpoint.untilStable]]: the old distance rows are
    * tagged in the union (the Upsert.groupThenAppend pattern), so the
    * round's own aggregation marks the nodes first reached or whose
    * minimum dropped, and a round with none is the fixpoint.
    * `converged = false` means the round budget ran out while distances
    * were still improving — the caller is holding a ≤rounds-edge
    * approximation, not the true shortest paths. That is a fact about the
    * result, not an error: a bounded-hop query (q148's 3 rounds) asks for
    * exactly that approximation, so the flag is the only report.
    *
    * @param edges (src, dst, w) directed, integer weights ≥ 0
    * @param seeds (node) — distance-0 sources
    * @return FixpointResult whose table is (node, dist): the minimal
    *         ≤rounds-edge path weight per reached node */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int): FixpointResult = {
    val e = Fixpoint.srcPartitioned(edges)
    val old = "__sssp_old"
    Fixpoint.untilStable(seeds.select(col("node"), lit(0L).as("dist")), rounds) {
      (dist, _) =>
        val relax = e.join(dist, e("src") === dist("node"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"),
            lit(false).as(old))
        dist.withColumn(old, lit(true)).unionByName(relax)
          .groupBy(col("node"))
          .agg(min(col("dist")).as("dist"), min(when(col(old), col("dist"))).as(old))
          .select(col("node"), col("dist"),
            (col(old).isNull || col("dist") < col(old)).as(Fixpoint.Changed))
    }
  }

  /** Breadth-first hop distances from a seed set — the frontier-expansion
    * re-expression of the recursive CTE Spark SQL lacks (the DuckDB oracle
    * states the WITH RECURSIVE form; this computes the identical min-hop
    * table iteratively, the standard Pregel/GraphFrames BFS shape).
    *
    * Round h: join the (h−1)-frontier against the
    * [[Fixpoint.srcPartitioned]] edges, distinct the neighbor set,
    * anti-join out already-reached nodes, tag survivors hop h. The rows at
    * hop h are the round's changed rows ([[Fixpoint.untilStable]]): an
    * EMPTY frontier ends the loop. `converged = true` means the reachable
    * set was fully explored within the budget; `false` means the last
    * frontier was still non-empty at `maxHops` — there may be unreached
    * nodes beyond the horizon, which is the intended semantics for
    * bounded-radius queries (q145's 3-hop ball) but a silent truncation
    * for reachability closures, so the flag makes the difference loud.
    *
    * @param seeds (node) — hop-0 nodes
    * @return FixpointResult whose table is (node, hop): the minimal hop
    *         count ≤ maxHops per reached node */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): FixpointResult = {
    val e = Fixpoint.srcPartitioned(edges)
    Fixpoint.untilStable(seeds.select(col("node"), lit(0).as("hop")), maxHops) {
      (reached, h) =>
        val frontier = reached.filter(col("hop") === h - 1)
        val fresh = e.join(frontier, e("src") === frontier("node"))
          .select(col("dst").as("node")).distinct()
          .join(reached, Seq("node"), "left_anti")
          .withColumn("hop", lit(h))
        reached.unionByName(fresh).withColumn(Fixpoint.Changed, col("hop") === h)
    }
  }

  /** Personalized PageRank (Page et al. 1999 §6; the random walk with
    * restart behind "related items for THIS seed set"): identical to
    * [[pageRank]]'s integer-grid power iteration except that ALL restart
    * mass — the per-round teleport AND the dangling redistribution —
    * returns to the SEED nodes instead of spreading uniformly, and the
    * initial mass sits entirely on the seeds. Rank mass therefore decays
    * with graph distance from the seed set: after k rounds only the
    * k-hop neighborhood holds mass, which is also what bounds the work —
    * contributions flow only from ranked nodes. Same exactness contract
    * as pageRank: per-edge contributions snap to the 1e-9 grid, per-node
    * sums are exact integers, so ranks are bit-reproducible and a
    * fixed-round SQL restatement hash-matches. The seed count is a
    * driver-side one-row lookup (bounded — the Upsert convention).
    *
    * @param edges directed (src, dst), pre-deduplicated
    * @param seeds (node) — must be non-empty; restart distribution is
    *              uniform over these
    * @return (node, deg, is_seed, pr9) for EVERY node in src ∪ dst */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    import graft.CacheLifecycle.TrackedPersistOps
    require(iters >= 0, s"iters must be >= 0; got $iters")
    val e = Fixpoint.srcPartitioned(edges)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .join(outDeg.select(col("src").as("node"), col("deg")), Seq("node"), "left")
      .join(seeds.select(col("node"), lit(1L).as("is_seed")), Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("is_seed"), lit(0L)).as("is_seed"))
      .persistTracked()
    val nSeeds = nodes.agg(sum(col("is_seed"))).head.getLong(0)
    require(nSeeds > 0, "personalizedPageRank: no seed appears in the graph")
    val init = nodes.select(col("node"), col("deg"), col("is_seed"),
      (col("is_seed") * lit(math.round(1e9 / nSeeds))).as("pr9"))
    Fixpoint.rounds(init, iters) { pr =>
      val dang = pr.filter(col("deg") === 0)
        .agg(coalesce(sum(col("pr9")), lit(0L)).as("d9"))
      // only RANKED nodes contribute (a pr9 = 0 node's per-edge term is
      // round(0) = 0 — summing it is a no-op), so the contribution join
      // is |reached| wide, not |V|: in round k that is the (k−1)-hop
      // neighborhood of the seeds, the locality that makes personalized
      // PR cheap on a 100 TB graph where the seed set is tiny
      val contrib = e.join(pr.filter(col("pr9") =!= 0),
          e("src") === pr("node"))
        .select(col("dst"),
          round(lit(0.85) * col("pr9") / col("deg")).cast("long").as("c9"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c9")).as("s9"))
      nodes.join(sums, nodes("node") === sums("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(nodes("node"), nodes("deg"), nodes("is_seed"),
          (nodes("is_seed") * (lit(math.round(0.15 * 1e9 / nSeeds)) +
            round(lit(0.85) * col("d9") / lit(nSeeds)).cast("long")) +
            coalesce(col("s9"), lit(0L))).as("pr9"))
    }
  }

  /** HITS hubs and authorities (Kleinberg 1999), UNNORMALIZED on exact
    * integers: h₀ = a₀ = 1, then per round a ← Σ_{u→v} h(u) followed by
    * h ← Σ_{v→u} a(u) (the standard in-iteration update order). Skipping
    * the per-round normalization is what makes the fixpoint
    * engine-exact — scores stay integers under decimal(38,0)/HUGEINT
    * sums (they grow like the principal singular value per round, so 38
    * digits cover any realistic edge count for the few rounds a scoring
    * pass runs) — and costs nothing semantically: HITS rankings are
    * scale-invariant, so consumers normalize ONCE at presentation
    * (q200 reports max-relative ratios on the 1e-9 grid). Two shuffles
    * per round, both node-keyed, the [[pageRank]] shape.
    *
    * @param edges directed (src, dst), pre-deduplicated
    * @return (node, auth, hub) as decimal(38,0), every node in src ∪ dst */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    import graft.CacheLifecycle.TrackedPersistOps
    val big = "decimal(38,0)"
    // Plain edge cache: the upstream edge pipeline runs once instead of
    // twice per round. Unlike [[pageRank]], hits joins the edges on src
    // AND on dst in the same round, so a src-partitioned layout only
    // serves half the joins — measured at sf0.1 the extra repartition +
    // sort materialization cost MORE than the saved auth-side exchange
    // (walls 1.84 vs 1.66); a plain persist keeps the recompute win
    // without the layout cost.
    val e = edges.persistTracked()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .persistTracked()
    val init = nodes.select(col("node"),
      lit(1).cast(big).as("auth"), lit(1).cast(big).as("hub"))
    // ah feeds both score updates, and withAuth feeds both the hub join
    // and the final join: both are checkpointed, or lazy folding doubles
    // the plan per round
    Fixpoint.rounds(init, iters) { ah =>
      val auth = e.join(ah, e("src") === ah("node"))
        .groupBy(e("dst").as("node")).agg(sum(col("hub")).as("a"))
      val withAuth = (nodes.join(auth, Seq("node"), "left")
        .select(col("node"), coalesce(col("a"), lit(0).cast(big)).as("auth")))
        .localCheckpoint(true)
      val hub = e.join(withAuth, e("dst") === withAuth("node"))
        .groupBy(e("src").as("node")).agg(sum(col("auth")).as("h"))
      withAuth.join(hub, Seq("node"), "left")
        .select(col("node"), col("auth"),
          coalesce(col("h"), lit(0).cast(big)).as("hub"))
    }
  }

  /** Deterministic synchronous label propagation (Raghavan et al. 2007's
    * community detection, made engine-reproducible): every node starts
    * labelled with its own id; each round, every node adopts the label
    * carrying the greatest total edge weight among its neighbors, ties
    * broken by the SMALLEST label. Classic LPA breaks ties randomly and
    * updates asynchronously — both nondeterministic; the synchronous
    * sweep with exact integer weight sums and min-label tie-break gives
    * bit-identical labels on any engine or partitioning, which is what
    * lets a fixed-round SQL restatement hash-match (the pageRank grid
    * philosophy applied to a discrete fixpoint). Fixed `iters` keeps the
    * unrolled oracle finite; synchronous LPA can 2-cycle on bipartite
    * structure, so a fixed even/odd round count is also what pins WHICH
    * phase is reported.
    *
    * Per round: one src-keyed join (labels flow along edges) + one
    * (dst, label) weight aggregation + a dst-keyed min-struct argmax —
    * the power-iteration shape [[pageRank]] uses, never wider than the
    * edge table. The argmax is min(struct(-weight, label)) rather than a
    * ranking window: a partial-aggregatable one-row reduction instead of
    * a full per-node sort.
    *
    * @param edges directed (src, dst, w: integer weight) — list both
    *              directions for undirected graphs
    * @return (node, label) for every node with ≥ 1 in-edge */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0; got $iters")
    // the edge table feeds every round's join plus the seed (q196: its
    // upstream is a lineitem self-join + pair aggregation)
    val e = Fixpoint.srcPartitioned(edges)
    val init = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    // not [[Fixpoint.rounds]]: a round reads the previous labels once, so
    // the lazy fold's plan grows linearly and needs no per-round checkpoint
    (0 until iters).foldLeft(init) { (lab, _) =>
      e.join(lab, e("src") === lab("node"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("w")).as("wsum"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("wsum")).as("nw"), col("label").as("l"))).as("b"))
        .select(col("dst").as("node"), col("b.l").as("label"))
    }
  }
}
