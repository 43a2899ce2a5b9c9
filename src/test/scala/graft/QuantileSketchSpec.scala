package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QuantileSketch
import graft.operators.QuantileSketch.{MergeAgg, Sketch, SketchAgg}

/** Contract of [[operators.QuantileSketch]] — the deterministic
  * Munro-Paterson/KLL-shaped compactor: the tracked `err` is a VALID
  * worst-case rank bound for any insertion order, merge order, and merge
  * tree; small inputs stay exact; counts never leak. Closed-form
  * distributions (permutations of 1..n, heavy ties) make every true rank
  * computable in the test itself. */
class QuantileSketchSpec extends AnyFunSuite {

  /** Estimated-rank query: smallest sketch value whose cumweight reaches
    * the target (the q308 extraction), returned with the exact counts the
    * self-check uses. */
  private def estimate(sk: Sketch, target: Long): Double = {
    var cum = 0L
    var i = 0
    while (i < sk.values.length) {
      cum += sk.weights(i)
      if (cum >= target) return sk.values(i)
      i += 1
    }
    sk.values.last
  }

  private def rankWithin(data: Seq[Double], sk: Sketch, target: Long): Boolean = {
    val v = estimate(sk, target)
    val lt = data.count(_ < v).toLong
    val le = data.count(_ <= v).toLong
    lt + 1 <= target + sk.err && le >= target - sk.err
  }

  private def targets(n: Long): Seq[Long] =
    Seq((n + 1) / 2, (9 * n + 9) / 10, (99 * n + 99) / 100)
      .map(t => math.max(1L, math.min(n, t)))

  private def buildSketch(data: Seq[Double], k: Int, chunks: Int): Sketch = {
    val agg = new SketchAgg(k)
    val bufs = data.grouped(math.max(1, data.size / chunks)).map { chunk =>
      chunk.foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
    }.toSeq
    agg.finish(bufs.reduce(agg.merge))
  }

  test("small inputs (n < k) are exact with err = 0") {
    val data = Seq(5.0, 1.0, 9.0, 3.0, 7.0)
    val sk = buildSketch(data, k = 64, chunks = 2)
    assert(sk.err == 0 && sk.n == data.size)
    assert(sk.values.sorted.sameElements(sk.values), "finish must sort")
    assert(estimate(sk, 3) == 5.0) // exact median of 1,3,5,7,9
  }

  test("rank bound holds on permutations of 1..10000 across merge shapes") {
    val base = (1 to 10000).map(_.toDouble)
    // deterministic shuffle (fixed LCG) — no Math.random in tests either
    var seed = 12345L
    val shuffled = base.sortBy { _ =>
      seed = seed * 6364136223846793005L + 1442695040888963407L; seed
    }
    for (k <- Seq(16, 64); chunks <- Seq(1, 7, 32)) {
      val sk = buildSketch(shuffled, k, chunks)
      assert(sk.n == 10000, s"count leak at k=$k chunks=$chunks")
      // the bound must follow the deterministic-compactor growth law,
      // err ≈ (n/k)·log2(n/k) — ~n/k per level, one level per doubling
      // (generous ×2 constant; a broken accounting blows well past it)
      val law = 2.0 * (10000.0 / k) * (math.log(10000.0 / k) / math.log(2) + 2)
      assert(sk.err > 0 && sk.err < law, s"err=${sk.err} vs law=$law at k=$k")
      targets(sk.n).foreach { t =>
        assert(rankWithin(shuffled, sk, t),
          s"rank bound violated at k=$k chunks=$chunks target=$t err=${sk.err}")
      }
    }
  }

  test("rank bound holds under heavy ties and skew") {
    val data = Seq.fill(5000)(42.0) ++ (1 to 3000).map(_.toDouble) ++
      Seq.fill(2000)(1e9)
    val sk = buildSketch(data, k = 32, chunks = 11)
    assert(sk.n == data.size)
    targets(sk.n).foreach(t => assert(rankWithin(data, sk, t), s"target=$t"))
  }

  test("MergeAgg over finished sketches preserves the bound and the count") {
    val agg = new SketchAgg(32)
    val merge = new MergeAgg(32)
    val parts = (0 until 5).map { p =>
      val data = (1 to 2000).map(i => (i * 5 + p + 1).toDouble)
      agg.finish(data.foldLeft(agg.zero)((b, v) => agg.reduce(b, v)))
    }
    val merged = merge.finish(
      parts.foldLeft(merge.zero)((b, s) => merge.reduce(b, s)))
    val all = (0 until 5).flatMap(p => (1 to 2000).map(i => (i * 5 + p + 1).toDouble))
    assert(merged.n == 10000)
    // merged bound = sum of parts' bounds + displacement of new compactions
    assert(merged.err >= parts.map(_.err).sum)
    targets(merged.n).foreach(t => assert(rankWithin(all, merged, t), s"target=$t"))
  }

  private lazy val spark = GraftSession(4)

  test("sketch survives a Spark aggregation round-trip (kryo buffer)") {
    import spark.implicits._
    val kll = udaf(new SketchAgg(32), org.apache.spark.sql.Encoders.scalaDouble)
    val rows = (1 to 5000).map(i => ((i % 3).toString, i.toDouble))
    val out = rows.toDF("g", "v").repartition(8)
      .groupBy($"g").agg(kll($"v").as("sk"))
      .select($"g", $"sk.n".as("n"), $"sk.err".as("err"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set("0", "1", "2"))
    assert(out.values.map(_._1).sum == 5000, "distributed count must be exact")
    assert(out.values.forall(_._2 < 5000 / 3), "bounds must stay non-trivial")
  }

  test("mergeStateInto maintains sketch state exactly-once across replays") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val kll = udaf(new SketchAgg(32), org.apache.spark.sql.Encoders.scalaDouble)
    val kllMerge = udaf(new MergeAgg(32), org.apache.spark.sql.Encoders.product[Sketch])
    def flat(df: org.apache.spark.sql.DataFrame) = df.select($"grp",
      $"sk.values".as("sk_values"), $"sk.weights".as("sk_weights"),
      $"sk.err".as("sk_err"), $"sk.n".as("sk_n"))
    def combine(all: org.apache.spark.sql.DataFrame) = flat(all.groupBy($"grp")
      .agg(kllMerge($"sk_values", $"sk_weights", $"sk_err", $"sk_n").as("sk")))
    def partial(lo: Int, hi: Int) = flat(
      (lo until hi).map(i => ("g", i.toDouble)).toDF("grp", "v")
        .groupBy($"grp").agg(kll($"v").as("sk")))
    val tp = TempDirs.fresh("kll_ivm_spec").resolve("t").toString
    def servedN(): Long = streaming.Rollup.readRollup(spark, tp)
      .select($"sk_n").as[Long].collect().head
    assert(streaming.Rollup.mergeStateInto(spark, partial(0, 1000), tp, 0L)(combine))
    assert(servedN() == 1000)
    // replayed batch id: must be a no-op, not a double merge
    assert(!streaming.Rollup.mergeStateInto(spark, partial(0, 1000), tp, 0L)(combine))
    assert(servedN() == 1000, "replay must not re-merge the batch")
    assert(streaming.Rollup.mergeStateInto(spark, partial(1000, 1500), tp, 1L)(combine))
    assert(servedN() == 1500, "second batch must merge into maintained state")
  }
}
