package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.operators.Graph

/** Property-based check of k-core peeling against an in-memory reference
  * peel over ARBITRARY undirected graphs: disjoint cliques with pendant
  * trees hanging off them, and bare chains — the shapes that make peeling
  * take several rounds — at every small k, every round budget and every
  * drop-set cap, so both the broadcast and the shuffled drop paths (and
  * rounds that mix them) run.
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
}
