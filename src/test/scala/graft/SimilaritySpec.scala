package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private val sf = "/root/testdata/sf0.001"

  test("IVF top-k has high recall vs brute force on clustered vectors") {
    import spark.implicits._
    // 10 well-separated clusters; true neighbors share the query's cluster,
    // so probing the 3 nearest cells must recover nearly all of them.
    // (On the testdata's *random* embeddings, label-cells give chance-level
    // recall ≈ nprobe/cells — IVF only helps when cells reflect geometry.)
    val dim = 16
    val vecs = (0 until 200).map { i =>
      val cluster = i % 10
      val emb = (0 until dim).map { j =>
        val center = ((cluster * 31 + j * 7) % 11 - 5) / 5.0f
        center + ((i * 13 + j * 3) % 5 - 2) * 0.01f
      }.toArray
      (i.toLong, emb, cluster)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val queries = df.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(queries, df, 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(queries, df, $"label", 5, 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall too low on clustered data")
    assert(approx.groupBy(_._1).forall(_._2.size == 5))
  }

  test("sharded brute-force top-k equals the single-broadcast run") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).filter($"vec_id" < 100)
    val queries = emb.filter($"vec_id" < 17)
    def run(cap: Int) = Similarity.bruteForceTopK(queries, emb, 5, cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    // cap 3 forces 6 shards over 17 queries; results must be identical,
    // ranks included (each query's candidates stay within its shard)
    assert(run(3) == run(1 << 16))
    assert(run(3).nonEmpty)
  }

  test("LSH pair search agrees with brute-force pairs above threshold") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).filter($"vec_id" < 200)
    // ground truth via the brute-force operator reused as a pair scan
    val exactPairs = Similarity.bruteForceTopK(emb, emb, 200)
      .filter($"sim" >= 0.35 && $"query_id" < $"neighbor_id")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshSimilarPairs(emb, 0.35, numTables = 16, planesPerTable = 3)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exactPairs), "LSH must never report a below-threshold pair")
    if (exactPairs.nonEmpty) {
      val recall = (exactPairs & lsh).size.toDouble / exactPairs.size
      assert(recall >= 0.5, s"LSH recall $recall too low: ${exactPairs.size} true pairs")
    }
  }

  test("minhash near-dup pairs: recall 1.0 on synthetic near-duplicates") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    val docs = Seq(
      (0L, base),
      (1L, base + "extra tail words here"),           // near-dup of 0
      (2L, base.replace("quick", "slow")),            // near-dup of 0
      (3L, "completely different content with many unique words of its own kind"),
      (4L, base)                                      // exact dup of 0
    ).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L)), "exact dup must be found")
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "distinct doc must not pair")
  }

  test("simhash: identical docs at hamming 0, near-dups within radius") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    val docs = Seq(
      (0L, base), (1L, base),
      (2L, base + "lambda mu"),
      (3L, "unrelated totally disjoint vocabulary tokens entirely other")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((0L, 1L)).contains(0), "identical docs must be hamming 0")
    assert(pairs.contains((0L, 2L)), "near-dup within radius expected")
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((1L, 3L)))
  }

  test("near-dup clustering: components merge transitively, reps are minima") {
    import spark.implicits._
    // pair graph: 1-2, 2-3 (one component), 5-6 (another); 9 isolated (absent)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (5L, 5L, true), (6L, 5L, false)))
  }

  test("clustering: one chain component spanning many partitions converges") {
    import spark.implicits._
    // a single 400-edge chain scattered over 16 partitions: partition-local
    // union-find contracts each partition's fragment to a star, and the
    // global rounds must still stitch the fragments (the spanning case one
    // partition can't see) — every node's rep is the global minimum 0
    val chain = (0L until 400L).map(i => (i, i + 1))
    val pairs = scala.util.Random.shuffle(chain).toDF("doc_a", "doc_b")
      .repartition(16)
    val got = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 401)
    assert(got.values.forall(_ == 0L), "all chain nodes must adopt rep 0")
  }

  test("prefix-filtered jaccard join equals the minhash-LSH route exactly") {
    // Two independent algorithms over the same similarity semantics: the
    // lossless PPJoin-style prefix filter and the probabilistic (but
    // recall-saturated) MinHash-LSH banding must return the same pairs with
    // the same jaccard values on the shared corpus.
    val docs = Tables.documents(spark, sf)
    val viaPrefix = Dedup.ngramJaccardJoin(docs, "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaMinhash = Dedup.nearDuplicatePairs(docs, "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaPrefix.nonEmpty)
    assert(viaPrefix == viaMinhash)
  }

  test("IVF probe over a cell-partitioned corpus is a partition-pruned read") {
    import org.apache.spark.sql.functions.col
    // the 100 TB layout: corpus written partitioned by coarse cell, so an
    // nprobe-cell search touches only those directories
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/t"
    Tables.embeddings(spark, sf).write.partitionBy("label").parquet(dir)
    val nCells = Tables.embeddings(spark, sf).select("label").distinct().count()
    assert(nCells > 3)
    val probes = Seq(0, 1, 2).map(_.toLong)
    val probed = spark.read.parquet(dir).filter(col("label").isin(probes: _*))
    val scanned = TestPlans.prunedPartitionCount(probed)
    assert(scanned == probes.size,
      s"expected ${probes.size} probed cells, scan lists $scanned of $nCells")
    // and the probed subset is exactly those cells' vectors
    assert(probed.count() ==
      Tables.embeddings(spark, sf).filter(col("label").isin(probes: _*)).count())
  }

  test("native dot_product expression equals the built-in fold bit-for-bit") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val emb = Tables.embeddings(spark, sf).limit(50)
    val pairs = emb.select(col("embedding").as("ea"))
      .crossJoin(emb.select(col("embedding").as("eb")))
    val maxDiff = pairs.select(abs(
      VectorFunctions.dotProduct(col("ea"), col("eb")) -
        VectorFunctions.dotProductFold(col("ea"), col("eb"))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(maxDiff == 0.0, s"codegen vs fold diverged by $maxDiff")
  }

  test("dot_product resolves in SQL on the engine session with no registration call") {
    val v = spark.sql(
      "SELECT dot_product(CAST(array(1.0,2.0,3.0) AS ARRAY<DOUBLE>), " +
        "CAST(array(4.0,5.0,6.0) AS ARRAY<DOUBLE>)) AS d").head().getDouble(0)
    assert(v == 32.0)
  }

  test("JaccardSizeBoundRule injects lossless size bounds ahead of the intersection") {
    import graft.functions.TextFunctions.jaccard
    import org.apache.spark.sql.functions.col
    // baseline: the same session with the rule excluded. Every plan and
    // action of the baseline runs inside this window, since optimization
    // is lazy and reads the conf when it happens.
    def withoutRule[T](f: => T): T = {
      spark.conf.set("spark.sql.optimizer.excludedRules",
        graft.plans.JaccardSizeBoundRule.ruleName)
      try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    import org.apache.spark.sql.functions.split
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // parquet-backed plan (a LocalRelation would be constant-folded away)
    def query() = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("s1"),
        split(col("source"), "r").as("s2"))
      .filter(jaccard(col("s1"), col("s2")) >= 0.5)
    def filterConjuncts(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case f: LFilter => conjuncts(f.condition).size
    }.sum
    def docIds(df: DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val filtered = query()
    val nConj = filterConjuncts(filtered)
    val (nConjBase, baseIds) = withoutRule {
      val baseline = query()
      (filterConjuncts(baseline), docIds(baseline))
    }
    assert(nConj == nConjBase + 2,
      s"expected 2 added size-bound conjuncts ($nConjBase -> $nConj):\n" +
        filtered.queryExecution.optimizedPlan)
    // lossless: identical rows with and without the rewrite
    assert(docIds(filtered) == baseIds)

    // join path: a both-sides jaccard predicate gets merged into the Join
    // condition by PushDownPredicates — the rule must fire there too
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    def joinQuery() = {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val a = docs.select(col("doc_id").as("id_a"), split(col("text"), " ").as("sa"))
      val b = docs.select(col("doc_id").as("id_b"), split(col("text"), " ").as("sb"))
      a.join(b, jaccard(col("sa"), col("sb")) >= 0.5 && col("id_a") < col("id_b"))
    }
    def joinConjuncts(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case j: LJoin => j.condition.toSeq.flatMap(conjuncts).size
    }.sum
    val joined = joinQuery()
    val joinConj = joinConjuncts(joined)
    val (joinConjBase, baseCount) = withoutRule {
      val baseline = joinQuery()
      (joinConjuncts(baseline), baseline.count())
    }
    assert(joinConj == joinConjBase + 2,
      s"expected 2 added bounds in join condition ($joinConjBase -> $joinConj)")
    assert(joined.count() == baseCount)
  }

  test("margin mining ranks a planted translation pair above hub neighbors") {
    import spark.implicits._
    // vec 0 (src) and vec 101 (tgt) are identical — a true pair. Vecs
    // 102/103 form a dense hub near src 2/4: raw cosine scores the hub
    // pairs as high as it scores anything, but the hub inflates their own
    // neighborhood averages, so the ratio margin demotes them below the
    // planted pair — the exact failure mode the criterion exists to fix.
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val src = Seq(
      (0L, v(1, 0, 0, 0)), (2L, v(0.9, 0.1, 0, 0)), (4L, v(0.9, 0, 0.1, 0))
    ).toDF("vec_id", "embedding")
    val tgt = Seq(
      (101L, v(1, 0, 0, 0)), (102L, v(0.92, 0.05, 0.05, 0)),
      (103L, v(0.91, 0.06, 0.04, 0)), (105L, v(0, 0, 0, 1))
    ).toDF("vec_id", "embedding")
    val got = operators.Similarity.marginMining(src, tgt, k = 2, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.nonEmpty)
    assert((got.head._1, got.head._2) == ((0L, 101L)),
      s"planted identical pair must rank first, got ${got.take(3).toSeq}")
    // margins are emitted in non-increasing order (the top-N cut is by margin)
    assert(got.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("PQ codes are dense, in-range, and idempotent under re-encoding") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val m = 4; val k = 4
    val cb = Similarity.trainPqCodebooks(emb, m, k, iters = 1)
    val cbRows = cb.collect()
    // one dense 0-based cw range per subspace; centroid dim = d/m
    (0 until m).foreach { s =>
      val cws = cbRows.filter(_.getInt(0) == s).map(_.getLong(1)).sorted
      assert(cws.sameElements(cws.indices.map(_.toLong)), s"sub $s cw not dense: ${cws.toSeq}")
      assert(cws.length <= k)
    }
    assert(cbRows.forall(_.getSeq[Double](3).length == 64 / m))
    val codes = Similarity.pqEncode(emb, cb, m).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.values.forall(cs => cs.length == m && cs.forall(c => c >= 0 && c < k)))
    // fixed-point: decoding each vector to its codeword concat and
    // re-encoding must reproduce the codes (nearest codeword to a codeword
    // is itself — rounded distance 0 beats every distinct codeword)
    val cents = cbRows.map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](3)).toMap
    val decoded = codes.toSeq.map { case (id, cs) =>
      (id, (0 until m).flatMap(s => cents((s, cs(s)))).map(_.toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val reCodes = Similarity.pqEncode(decoded, cb, m).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(reCodes == codes, "re-encoding decoded vectors changed codes")
  }

  test("PQ ADC top-k has usable recall vs exact L2 on clustered vectors") {
    import spark.implicits._
    val dim = 16
    val vecs = (0 until 200).map { i =>
      val cluster = i % 10
      val emb = (0 until dim).map { j =>
        val center = ((cluster * 31 + j * 7) % 11 - 5) / 5.0f
        center + ((i * 13 + j * 3) % 5 - 2) * 0.01f
      }.toArray
      (i.toLong, emb)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(df, m = 4, k = 8, iters = 2)
    val codes = Similarity.pqEncode(df, cb, m = 4)
    val queries = df.filter($"vec_id" < 8)
    val adc = Similarity.pqTopK(queries, codes, cb, m = 4, k = 5)
    val got = adc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact squared-L2 ground truth in the driver
    val all = vecs.map { case (id, e) => id -> e.map(_.toDouble) }.toMap
    val exact = (0L until 8L).flatMap { q =>
      val qe = all(q)
      all.toSeq.filter(_._1 != q)
        .map { case (id, e) =>
          (id, qe.zip(e).map { case (a, b) => (a - b) * (a - b) }.sum) }
        .sortBy { case (id, d2) => (d2, id) }.take(5).map(p => (q, p._1))
    }.toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ ADC recall $recall too low on clustered data")
    assert(got.groupBy(_._1).forall(_._2.size == 5))
  }

  test("k-center coreset equals the brute-force greedy loop") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).filter($"vec_id" < 120)
    val got = Similarity.kCenterCoreset(emb, k = 6)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // driver reconstruction with the same portable arithmetic: sequential
    // dot products, round(6) HALF_UP on the canonical decimal expansion
    val all = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def rd(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def sq(a: Array[Double], b: Array[Double]): Double =
      rd(dot(a, a) - 2.0 * dot(a, b) + dot(b, b))
    val seed = all.keys.min
    val sel = scala.collection.mutable.ArrayBuffer((0, seed, 0.0))
    while (sel.length < 6) {
      val cents = sel.map(s => all(s._2))
      val far = all.toSeq
        .map { case (id, e) => (id, cents.map(c => sq(e, c)).min) }
        .maxBy { case (id, dm) => (dm, -id) }
      sel += ((sel.length, far._1, far._2))
    }
    assert(got.toSeq == sel.toSeq,
      s"greedy selection diverges: got=${got.toSeq} want=${sel.toSeq}")
    // coverage radii are non-increasing past the seed, centers distinct
    assert(got.drop(1).map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    assert(got.map(_._2).distinct.length == got.length)
  }

  test("IVF-PQ has usable recall vs exact L2 on clustered vectors") {
    import spark.implicits._
    val dim = 16
    val vecs = (0 until 200).map { i =>
      val cluster = i % 10
      val emb = (0 until dim).map { j =>
        val center = ((cluster * 31 + j * 7) % 11 - 5) / 5.0f
        center + ((i * 13 + j * 3) % 5 - 2) * 0.01f
      }.toArray
      (i.toLong, emb)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cent = Similarity.trainKMeansCells(df, k = 10, iters = 2)
    val cells = Similarity.assignKMeansCells(df, cent).select($"vec_id", $"cell")
    val cb = Similarity.trainPqCodebooks(df, m = 4, k = 8, iters = 2)
    val codes = Similarity.pqEncode(df, cb, m = 4)
    val got = Similarity.ivfPqTopK(df.filter($"vec_id" < 8), cells, codes, cent,
        cb, m = 4, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = vecs.map { case (id, e) => id -> e.map(_.toDouble) }.toMap
    val exact = (0L until 8L).flatMap { q =>
      val qe = all(q)
      all.toSeq.filter(_._1 != q)
        .map { case (id, e) =>
          (id, qe.zip(e).map { case (a, b) => (a - b) * (a - b) }.sum) }
        .sortBy { case (id, d2) => (d2, id) }.take(5).map(p => (q, p._1))
    }.toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF-PQ recall $recall too low on clustered data")
    assert(got.groupBy(_._1).forall(_._2.size == 5))
  }

  test("PQ ADC results are invariant to corpus partitioning") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val cb = Similarity.trainPqCodebooks(emb, m = 4, k = 4, iters = 1)
    def run(c: org.apache.spark.sql.DataFrame) = {
      val codes = Similarity.pqEncode(c, cb, m = 4)
      Similarity.pqTopK(emb.filter($"vec_id" < 8), codes, cb, m = 4, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    }
    // decimal ADC sums + rounded LUT entries: any partitioning of the
    // corpus (different partial-aggregation merge orders) must produce the
    // bit-identical (query, neighbor, rank, adist) set
    assert(run(emb) == run(emb.repartition(7)))
    assert(run(emb).nonEmpty)
  }

  test("q271 PCA loadings equal a BigInt driver power iteration") {
    val got = queries.Vectors.q271(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 64)
    val emb = Tables.embeddings(spark, sf).selectExpr("vec_id",
        "transform(embedding, v -> cast(cast(v as decimal(18,9)) * 1000000000 as long))")
      .collect().map(r => r.getSeq[Long](1).toArray)
    val n = emb.length
    val d = 64
    val mu = Array.tabulate(d)(i => emb.map(_(i)).sum / n) // floor div, as the query
    val c = emb.map(v => Array.tabulate(d)(i => v(i) - mu(i)))
    val cov = Array.tabulate(d, d) { (i, j) =>
      (c.map(v => BigInt(v(i)) * v(j)).sum / n) // floor, as the query
    }
    var v = Array.fill(d)(BigInt(1000000000L))
    var maPrev = BigInt(0)
    var ma = BigInt(0)
    for (_ <- 1 to 10) {
      val raw = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      maPrev = ma
      ma = raw.map(_.abs).max
      v = raw.map(r => BigInt(math.round(r.toDouble / ma.toDouble * 1e9)))
    }
    got.foreach { case (pos, loading, growth) =>
      assert(math.abs(loading - v(pos.toInt).toDouble / 1e9) <= 2e-9,
        s"pos $pos loading")
      assert(math.abs(growth -
        math.round(ma.toDouble / maPrev.toDouble * 1e6) / 1e6) <= 2e-6)
      assert(math.abs(loading) <= 1.0 + 1e-9)
    }
    // max-abs normalization pins one coordinate at ±1
    assert(got.map(r => math.abs(r._2)).max >= 1.0 - 1e-9)
  }

  test("q279 MMR passes over a near-duplicate of the top pick for a diverse result") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // query = vec 0 along (1,0); vecs 1/2 are near-duplicates of each
    // other at +27 degrees off the query axis; vec 3 mirrors them at -28
    // degrees — slightly less relevant but diverse. Pure relevance ranks
    // (1, 2, 3); MMR round 2 must take 3 over the duplicate 2:
    //   mmr(2) = 0.5*0.885 - 0.5*sim(1,2)~0.9998 = -0.057
    //   mmr(3) = 0.5*0.880 - 0.5*sim(1,3)~0.5746 = +0.153
    val vecs = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(0.894, 0.447)),  // top relevance
      (2L, Array(0.885, 0.4655)), // its near-duplicate
      (3L, Array(0.880, -0.475))  // diverse, nearly as relevant
    ) ++ (4 to 12).map(i => (i.toLong, Array(0.1, 0.995 + i * 0.0001))) // filler
    val dir = java.nio.file.Files.createTempDirectory("graft_mmr").toString
    vecs.toDF("vec_id", "embedding")
      .withColumn("label", lit(1)).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val got = queries.Vectors.q279(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(got.take(2).toSeq == Seq((1, 1L), (2, 3L)),
      s"MMR order broken: ${got.toSeq}")
    // the near-duplicate must rank strictly below the diverse pick
    val pos = got.map(_._2).indexOf(2L)
    assert(pos == -1 || pos > 1, s"duplicate outranked diversity: ${got.toSeq}")
  }

  test("dot-product codegen locals are fresh per instance") {
    // Regression guard: DotProductDouble once emitted FIXED Java local
    // names (graft_n/s/i). Two instances whose code lands in the same
    // method scope (non-nullable children skip the scoping null-guard
    // braces) then threw "Redefinition of local variable" and the WHOLE
    // stage silently fell back to interpreted eval — correctness
    // unchanged, so only sweep-log CompileExceptions betrayed it.
    // Generate both instances against ONE CodegenContext and require
    // their declared locals to be disjoint.
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.plans.DotProductDouble
    val t = ArrayType(DoubleType, containsNull = false)
    def ref(i: Int) = BoundReference(i, t, nullable = false)
    val ctx = new CodegenContext
    ctx.INPUT_ROW = "i"
    val c1 = DotProductDouble(ref(0), ref(1)).genCode(ctx).code.toString
    val c2 = DotProductDouble(ref(2), ref(3)).genCode(ctx).code.toString
    val decl = "(?:int|double)\\s+(\\w+)\\s*=".r
    def locals(c: String) = decl.findAllMatchIn(c).map(_.group(1)).toSet
    val shared = locals(c1) intersect locals(c2)
    assert(shared.isEmpty,
      s"two dot products declare the same Java locals $shared — " +
        "in one method scope this is a compile error and the stage " +
        "falls back to interpreted execution")

    // and the arithmetic the generated loop implements stays correct
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFunctions.asDouble
    import graft.plans.VectorExpressions.dot
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.5f, 0.0f, -1.0f), Array(2.0f, 3.0f, 4.0f))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
        (dot(asDouble(col("a")), asDouble(col("a")))
          - dot(asDouble(col("a")), asDouble(col("b"))) * 2.0
          + dot(asDouble(col("b")), asDouble(col("b")))).as("sqd"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == Seq((1L, 27.0), (2L, 36.25)),
      s"squared distance wrong: ${out.toSeq}")
  }
}
