package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.operators.Graph

/** Property-based checks of the graph fixpoints against in-memory
  * references. K-core peeling runs over ARBITRARY undirected graphs:
  * disjoint cliques with pendant trees hanging off them, and bare chains —
  * the shapes that make peeling take several rounds — at every small k,
  * every round budget and every drop-set cap, so both the broadcast and
  * the shuffled drop paths (and rounds that mix them) run. SSSP and BFS
  * run over random weighted digraphs at budgets below and above their
  * diameter, so both a converged and a budget-cut result are checked,
  * rounds and convergence flag included.
  */
object GraphProps extends Properties("graft.graph") {

  // each case runs one Spark job per round; 12 graphs per property catch
  // a wrong peel while keeping the suite's wall-clock bounded
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = GraftSession(4)

  /** Edges of one part over node ids 0 until n: a clique of 1–5 nodes with
    * a random pendant tree of 0–6 nodes attached, or a chain of 1–7 edges. */
  private val partGen: Gen[(Int, Seq[(Int, Int)])] = Gen.oneOf(
    for {
      c <- Gen.chooseNum(1, 5)
      t <- Gen.chooseNum(0, 6)
      parents <- Gen.sequence[Seq[Int], Int](
        (c until c + t).map(i => Gen.chooseNum(0, i - 1)))
    } yield (c + t,
      (for (i <- 0 until c; j <- i + 1 until c) yield (i, j)) ++
        (c until c + t).zip(parents).map { case (i, p) => (p, i) }),
    Gen.chooseNum(1, 7).map(len => (len + 1, (0 until len).map(i => (i, i + 1)))))

  /** Disjoint parts with shifted node ids, each edge once as (min, max). */
  private val graphGen: Gen[Seq[(Long, Long)]] =
    Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, partGen)).map { parts =>
      val offsets = parts.scanLeft(0)(_ + _._1)
      parts.zip(offsets).flatMap { case ((_, es), off) =>
        es.map { case (a, b) => ((a + off).toLong, (b + off).toLong) } }
    }

  /** The peel loop over in-memory edges: same rounds, same convergence rule. */
  private def referencePeel(pairs: Seq[(Long, Long)], k: Int,
      maxRounds: Int): (Map[Long, Long], Boolean, Int) = {
    def degrees(es: Seq[(Long, Long)]) =
      es.groupBy(_._1).map { case (n, out) => n -> out.size.toLong }
    var edges = pairs ++ pairs.map(_.swap)
    var round = 0
    var changed = true
    while (round < maxRounds && changed) {
      round += 1
      val drop = degrees(edges).filter(_._2 < k).keySet
      if (drop.isEmpty) changed = false
      else edges = edges.filter { case (s, d) => !drop(s) && !drop(d) }
    }
    (degrees(edges), !changed, round)
  }

  property("kCore equals an in-memory peel on both drop paths") =
    forAll(graphGen, Gen.chooseNum(1, 4), Gen.chooseNum(1, 8),
        Gen.oneOf(0L, 1L, 1L << 22)) { (pairs, k, maxRounds, dropMax) =>
      import spark.implicits._
      val fx = Graph.kCore(pairs.toDF("a", "b"), k, maxRounds, dropMax)
      val got = fx.result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (got, fx.converged, fx.roundsRun) == referencePeel(pairs, k, maxRounds)
    }

  /** A random digraph over nodes 0 until 8 with integer weights 0–5, and
    * a non-empty seed set. */
  private val digraphGen: Gen[(Seq[(Long, Long, Long)], Seq[Long])] = for {
    n <- Gen.chooseNum(2, 8)
    m <- Gen.chooseNum(0, 16)
    es <- Gen.listOfN(m, for {
      a <- Gen.chooseNum(0, n - 1)
      b <- Gen.chooseNum(0, n - 1)
      w <- Gen.chooseNum(0, 5)
    } yield (a.toLong, b.toLong, w.toLong))
    seeds <- Gen.atLeastOne((0 until n).map(_.toLong))
  } yield (es.distinct, seeds.toSeq)

  /** Driver Bellman-Ford with the operator's round and convergence rule:
    * a round that changes no distance ends the loop and counts. */
  private def referenceSssp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      budget: Int): (Map[Long, Long], Boolean, Int) = {
    var dist = seeds.map(_ -> 0L).toMap
    var round = 0
    var changed = true
    while (round < budget && changed) {
      round += 1
      val relaxed = edges.flatMap { case (s, d, w) => dist.get(s).map(ds => d -> (ds + w)) }
      val next = (dist.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
      changed = next != dist
      dist = next
    }
    (dist, !changed, round)
  }

  /** Driver BFS with the operator's rule: an empty frontier ends the loop. */
  private def referenceBfs(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      budget: Int): (Map[Long, Int], Boolean, Int) = {
    var hop = seeds.map(_ -> 0).toMap
    var h = 0
    var changed = true
    while (h < budget && changed) {
      h += 1
      val fresh = edges.collect { case (s, d, _) if hop.get(s).contains(h - 1) => d }
        .filterNot(hop.contains).toSet
      hop ++= fresh.map(_ -> h)
      changed = fresh.nonEmpty
    }
    (hop, !changed, h)
  }

  property("sssp and bfsHops equal driver Bellman-Ford and BFS, convergence included") =
    forAll(digraphGen, Gen.chooseNum(0, 9)) { case ((edges, seeds), budget) =>
      import spark.implicits._
      val e = edges.toDF("src", "dst", "w")
      val s = seeds.toDF("node")
      val sp = Graph.sssp(e, s, budget)
      val bfs = Graph.bfsHops(e, s, budget)
      val gotSp = sp.result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotBfs = bfs.result.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      (gotSp, sp.converged, sp.roundsRun) == referenceSssp(edges, seeds, budget) &&
        (gotBfs, bfs.converged, bfs.roundsRun) == referenceBfs(edges, seeds, budget)
    }
}
