package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.{Multimodal, Similarity}

/** Similarity-search + multimodal pack over `embeddings` and `documents`
  * (SURVEY.md §2 Tier B north-star rows).
  *
  * q50 (brute-force ANN baseline) and the stats/centroid queries are
  * oracle-checked against DuckDB list arithmetic. The IVF and LSH variants
  * are the scale path (probed cells / hashed buckets instead of full
  * scans); their pruning decisions are built from portable arithmetic
  * (rounded decimal centroids, integer-mixer hyperplanes), so the oracle
  * reproduces the approximate search exactly — recall vs brute force is
  * asserted separately in SimilaritySpec.
  */
object Vectors {
  import Q._

  // --- q50: exact top-5 cosine neighbors for 8 query vectors --------------
  def q50(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    // queryCountHint: at most 8 query vectors by construction — keeps the
    // operator a pure lazy plan (no construction-time sizing job).
    Similarity.bruteForceTopK(emb.filter($"vec_id" < 8), emb, k = 5,
        queryCountHint = 8)
      .orderBy($"query_id", $"rank")
  }
  val q50Sql: String =
    """SELECT query_id, neighbor_id, rank, sim FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
      |      / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
      |         * sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS sim,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |      ROUND(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
      |        / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
      |           * sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) DESC,
      |      c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- q51: per-label embedding statistics --------------------------------
  def q51(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .withColumn("norm", l2Norm($"embedding"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        max(size($"embedding")).as("dim"),
        // round(6): the decimal(18,9) snap of arbitrary doubles can differ
        // between engines by one last-digit unit near rounding boundaries
        // (Spark rounds the exact binary expansion, DuckDB multiply+llround)
        // — the final rounding gives ~1e5x margin over that noise.
        round(sum($"norm".cast("decimal(18,9)")).cast("double") / count(lit(1)), 6)
          .as("avg_norm"))
      .orderBy($"label")
  }
  val q51Sql: String =
    """SELECT label, COUNT(*) AS n_vecs,
      |  MAX(len(embedding)) AS dim,
      |  ROUND(CAST(SUM(CAST(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |    AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS avg_norm
      |FROM embeddings
      |GROUP BY label
      |ORDER BY label""".stripMargin

  // --- q52: per-label centroids (per-dimension means) ---------------------
  // posexplode → (label, dim) grouping: the shuffle key is (label, pos), so
  // centroid math parallelizes over label×dim cells, not whole vectors.
  def q52(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"label", posexplode(asDouble($"embedding")).as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      // round(6) margin over decimal-snap boundary noise — see q51 note
      .agg(round(sum($"v".cast("decimal(18,9)")).cast("double") / count(lit(1)), 6)
        .as("centroid_v"))
      .orderBy($"label", $"pos")
  }
  val q52Sql: String =
    """SELECT label, pos,
      |  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS centroid_v
      |FROM (
      |  SELECT label,
      |    unnest(range(0, len(embedding))) AS pos,
      |    unnest(embedding::DOUBLE[]) AS v
      |  FROM embeddings)
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  // --- q53: IVF approximate nearest neighbors (scale path) ----------------
  // Coarse cells = label attribute (stand-in for k-means cells), probe 3 of
  // 10 cells → ~70% of the corpus never scanned. The probe choice is fully
  // deterministic (decimal-routed rounded centroids, rounded csim with cell
  // tie-break), so the oracle restates the same probed-cells search — this
  // checks the APPROXIMATE semantics exactly, not recall vs brute force
  // (recall is SimilaritySpec's job).
  def q53(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb.filter($"vec_id" < 8), emb, $"label", k = 5, nprobe = 3)
      .orderBy($"query_id", $"rank")
  }
  private val cosSql = (a: String, b: String) =>
    s"""list_inner_product($a, $b)
       |      / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))""".stripMargin
  val q53Sql: String =
    s"""WITH cent AS (
      |  SELECT label AS cell, pos,
      |    ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS cv
      |  FROM (SELECT label, unnest(range(0, len(embedding))) AS pos,
      |               unnest(embedding::DOUBLE[]) AS v
      |        FROM embeddings)
      |  GROUP BY label, pos
      |), centv AS (
      |  SELECT cell, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY cell
      |), probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.centroid")}, 6) DESC, c.cell) AS crank
      |    FROM embeddings q, centv c WHERE q.vec_id < 8)
      |  WHERE crank <= 3
      |), scored AS (
      |  SELECT p.query_id, e.vec_id AS neighbor_id,
      |    ROUND(${cosSql("q.embedding::DOUBLE[]", "e.embedding::DOUBLE[]")}, 6) AS sim
      |  FROM probes p
      |  JOIN embeddings e ON e.label = p.cell
      |  JOIN embeddings q ON q.vec_id = p.query_id
      |  WHERE e.vec_id <> p.query_id
      |)
      |SELECT query_id, neighbor_id, rank, sim FROM (
      |  SELECT query_id, neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM scored)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- q54: cosine-LSH similar pairs --------------------------------------
  // Plane components are an integer mixer (portable) and plane dot products
  // are decimal-routed, so the oracle reproduces the exact buckets, the
  // exact candidate set, and the exact rerank — the APPROXIMATE search is
  // checked verbatim, recall on structured data stays in SimilaritySpec.
  // 5-plane tables keep the demo's candidate volume ~6x below all-pairs.
  def q54(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Similarity.lshSimilarPairs(Tables.embeddings(s, d), threshold = 0.3,
      numTables = 6, planesPerTable = 5, eagerSkewProbe = true)
      .orderBy($"vec_a", $"vec_b")
  }
  val q54Sql: String =
    s"""WITH comps AS (
      |  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |         unnest(embedding::DOUBLE[]) AS v
      |  FROM embeddings
      |), dots AS (
      |  SELECT vec_id, p,
      |    SUM(CAST(FLOOR(v * ((pos * 7919 + p * 1000003) * 2654435761 % 2049 - 1024) * 1e9)
      |        AS BIGINT)) AS d
      |  FROM comps, (SELECT unnest(range(0, 30)) AS p) pl
      |  GROUP BY vec_id, p
      |), buckets AS (
      |  SELECT vec_id, p // 5 AS table_id,
      |    CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << (p % 5)) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id, p // 5
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM buckets a JOIN buckets b
      |    ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      |), scored AS (
      |  SELECT c.vec_a, c.vec_b,
      |    ROUND(${cosSql("ea.embedding::DOUBLE[]", "eb.embedding::DOUBLE[]")}, 6) AS sim
      |  FROM cand c
      |  JOIN embeddings ea ON ea.vec_id = c.vec_a
      |  JOIN embeddings eb ON eb.vec_id = c.vec_b
      |)
      |SELECT vec_a, vec_b, sim FROM scored WHERE sim >= 0.3
      |ORDER BY vec_a, vec_b""".stripMargin

  // --- q331: cosine-LSH recall audit (probe-sampled, oracle-gated) ----------
  // SimilaritySpec asserts LSH recall on structured fixtures; this puts
  // the MEASURED number on the oracle record the way q309/q315 do for
  // IVF-PQ and bloom: q54's full hyperplane-LSH pipeline (portable
  // integer-mixer planes, exact rerank) audited for recall WITHOUT an
  // all-pairs truth arm. Truth is probe-sampled (the q309/q314/q320
  // shape): a deterministic 32-probe set (vec_id < 32), exact
  // threshold-neighbors per probe via ONE corpus scan against the
  // broadcast probes — O(|P|·N), never O(N²) — vs the ordered probe
  // pairs the LSH candidate structure recovers. sim is symmetric
  // bit-exactly (IEEE a·b = b·a per term, index-order summation, and
  // n_a·n_b = n_b·n_a), so the LSH arm's rerank at the same threshold
  // makes lsh∩probe ⊆ truth and recall = n_hits/n_exact — exact small
  // ints on the decimal route. recall_lo/hi is the 95% Wilson interval
  // (q166's literal-z, fixed-op-order convention) for the sampling
  // uncertainty the probe design introduces — the honest replacement
  // for census certainty at 100 TB, where the census is unrunnable.
  def q331(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val P = 32
    val emb = Tables.embeddings(s, d)
    val lsh = Similarity.lshSimilarPairs(emb, threshold = 0.3,
      numTables = 6, planesPerTable = 5, eagerSkewProbe = true)
    // ordered (probe, neighbor) pairs out of the unordered a<b LSH set;
    // the two branches are direction-disjoint, so no dedup is needed.
    val lshProbe = lsh.filter($"vec_a" < P)
        .select($"vec_a".as("query_id"), $"vec_b".as("neighbor_id"))
      .unionByName(lsh.filter($"vec_b" < P)
        .select($"vec_b".as("query_id"), $"vec_a".as("neighbor_id")))
    val probes = emb.filter($"vec_id" < P)
      .select($"vec_id".as("query_id"), $"embedding".as("eq"),
        l2Norm($"embedding").as("nq"))
    val truth = emb.select($"vec_id".as("neighbor_id"),
        $"embedding".as("ev"), l2Norm($"embedding").as("nv"))
      .crossJoin(broadcast(probes))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("sim", round(dotProduct($"eq", $"ev") / ($"nq" * $"nv"), 6))
      .filter($"sim" >= 0.3)
      .select($"query_id", $"neighbor_id")
    val counts = truth
      .join(lshProbe.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce($"hit", lit(0))).cast("long").as("n_hits"))
    def grid9(c: org.apache.spark.sql.Column) =
      round(c * 1e9).cast("long").cast("double") / 1e9
    val z = lit(1.96)
    val nd = $"n_exact".cast("double")
    val p = $"n_hits".cast("double") / nd
    val half = z * sqrt(p * (lit(1.0) - p) / nd + z * z / (lit(4.0) * nd * nd))
    val center = p + z * z / (lit(2.0) * nd)
    val denom = lit(1.0) + z * z / nd
    counts
      .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
      .select($"n_probes", $"n_exact", $"n_hits",
        ($"n_exact" - $"n_hits").as("n_missed"),
        expr("cast(case when n_exact = 0 then null else " +
          "cast(n_hits as decimal(38,0)) * 1000000 div n_exact end as bigint)")
          .as("recall_ppm"),
        when($"n_exact" === 0, lit(null).cast("double"))
          .otherwise(grid9((center - half) / denom)).as("recall_lo"),
        when($"n_exact" === 0, lit(null).cast("double"))
          .otherwise(grid9((center + half) / denom)).as("recall_hi"))
  }
  val q331Sql: String =
    s"""WITH comps AS (
      |  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |         unnest(embedding::DOUBLE[]) AS v
      |  FROM embeddings
      |), dots AS (
      |  SELECT vec_id, p,
      |    SUM(CAST(FLOOR(v * ((pos * 7919 + p * 1000003) * 2654435761 % 2049 - 1024) * 1e9)
      |        AS BIGINT)) AS d
      |  FROM comps, (SELECT unnest(range(0, 30)) AS p) pl
      |  GROUP BY vec_id, p
      |), buckets AS (
      |  SELECT vec_id, p // 5 AS table_id,
      |    CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << (p % 5)) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id, p // 5
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM buckets a JOIN buckets b
      |    ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      |  WHERE a.vec_id < 32 OR b.vec_id < 32
      |), lsh AS (
      |  SELECT vec_a, vec_b FROM (
      |    SELECT c.vec_a, c.vec_b,
      |      ROUND(${cosSql("ea.embedding::DOUBLE[]", "eb.embedding::DOUBLE[]")}, 6) AS sim
      |    FROM cand c
      |    JOIN embeddings ea ON ea.vec_id = c.vec_a
      |    JOIN embeddings eb ON eb.vec_id = c.vec_b)
      |  WHERE sim >= 0.3
      |), lsho AS (
      |  SELECT vec_a AS query_id, vec_b AS neighbor_id FROM lsh WHERE vec_a < 32
      |  UNION ALL
      |  SELECT vec_b, vec_a FROM lsh WHERE vec_b < 32
      |), truth AS (
      |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id
      |  FROM embeddings q JOIN embeddings v
      |    ON q.vec_id < 32 AND v.vec_id <> q.vec_id
      |  WHERE ROUND(${cosSql("q.embedding::DOUBLE[]", "v.embedding::DOUBLE[]")}, 6) >= 0.3
      |), np AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_probes FROM embeddings WHERE vec_id < 32
      |), cnt AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
      |    CAST(SUM(CASE WHEN l.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      |  FROM truth t LEFT JOIN lsho l
      |    ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
      |), w AS (
      |  SELECT n_exact, n_hits,
      |    CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) AS p,
      |    CAST(n_exact AS DOUBLE) AS nd
      |  FROM cnt)
      |SELECT n_probes, n_exact, n_hits, n_exact - n_hits AS n_missed,
      |  CAST(CASE WHEN n_exact = 0 THEN NULL
      |    ELSE CAST(n_hits AS HUGEINT) * 1000000 // n_exact END AS BIGINT) AS recall_ppm,
      |  CASE WHEN n_exact = 0 THEN NULL ELSE
      |    CAST(CAST(round(
      |      ((p + 1.96 * 1.96 / (2.0 * nd))
      |       - 1.96 * sqrt(p * (1.0 - p) / nd + 1.96 * 1.96 / (4.0 * nd * nd)))
      |      / (1.0 + 1.96 * 1.96 / nd) * 1e9) AS BIGINT) AS DOUBLE) / 1e9
      |    END AS recall_lo,
      |  CASE WHEN n_exact = 0 THEN NULL ELSE
      |    CAST(CAST(round(
      |      ((p + 1.96 * 1.96 / (2.0 * nd))
      |       + 1.96 * sqrt(p * (1.0 - p) / nd + 1.96 * 1.96 / (4.0 * nd * nd)))
      |      / (1.0 + 1.96 * 1.96 / nd) * 1e9) AS BIGINT) AS DOUBLE) / 1e9
      |    END AS recall_hi
      |FROM w CROSS JOIN np""".stripMargin

  // --- q339: semantic-dedup threshold tuning curve --------------------------
  // The knob-sizing artifact for q56 the way q314 is for the ANN probe:
  // the SAME portable cosine-LSH candidate set (computed once at the
  // loosest point — bucket structure is threshold-independent) reranked
  // and clustered at t ∈ {0.3, 0.4, 0.5}, reporting pairs, clustered
  // docs, clusters, and the kept-corpus ppm each threshold implies — the
  // number a curator reads before committing a dedup cut. Connected
  // components run per point on the bounded candidate graph (empty graph
  // at a tight threshold degrades to zero rows, handled). The oracle
  // restates the exact buckets/rerank (q54's proof) and carries t
  // through a scenario-keyed recursive closure.
  def q339(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val pairs = Similarity.lshSimilarPairs(Tables.embeddings(s, d),
        threshold = 0.3, numTables = 6, planesPerTable = 5,
        eagerSkewProbe = true)
      .persistTracked() // three curve points re-filter it
    val nv = Tables.embeddings(s, d).agg(count(lit(1)).as("n_vecs"))
    val ts = Seq(0.3, 0.4, 0.5)
    // ONE clusterPairs run for all three points: per-threshold graphs live
    // in disjoint id spaces (node' = vec_id·4 + ti — edges never cross a
    // ti boundary, so components are per-threshold exactly), and ti is
    // recovered as doc_id % 4. Three separate CC runs paid 3× the
    // contraction rounds' eager-checkpoint overhead (3.4s at sf0.1).
    val keyed = ts.zipWithIndex.map { case (t, i) =>
      pairs.filter($"sim" >= t)
        .select(($"vec_a" * 4 + i).as("doc_a"), ($"vec_b" * 4 + i).as("doc_b"))
    }.reduce(_ unionByName _)
    val cstats = graft.operators.Dedup.clusterPairs(keyed)
      .groupBy(($"doc_id" % 4).cast("int").as("ti"))
      .agg(count(lit(1)).as("n_in_clusters"),
        countDistinct($"cluster_rep").as("n_clusters"))
    val points = ts.zipWithIndex.map { case (t, i) =>
      pairs.filter($"sim" >= t).agg(count(lit(1)).as("n_pairs"))
        .select(lit(i).as("ti"), lit(t).as("threshold"), $"n_pairs")
    }.reduce(_ unionByName _)
      .join(broadcast(cstats), Seq("ti"), "left")
      .select($"threshold", $"n_pairs",
        coalesce($"n_in_clusters", lit(0L)).as("n_in_clusters"),
        coalesce($"n_clusters", lit(0L)).as("n_clusters"))
    points.crossJoin(broadcast(nv))
      .select($"threshold", $"n_vecs", $"n_pairs", $"n_in_clusters",
        $"n_clusters",
        expr("cast(cast(n_vecs - (n_in_clusters - n_clusters) as decimal(38,0))" +
          " * 1000000 div n_vecs as bigint)").as("kept_ppm"))
      .orderBy($"threshold")
  }
  val q339Sql: String =
    s"""WITH RECURSIVE comps AS MATERIALIZED (
      |  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |         unnest(embedding::DOUBLE[]) AS v
      |  FROM embeddings
      |), dots AS MATERIALIZED (
      |  SELECT vec_id, p,
      |    SUM(CAST(FLOOR(v * ((pos * 7919 + p * 1000003) * 2654435761 % 2049 - 1024) * 1e9)
      |        AS BIGINT)) AS d
      |  FROM comps, (SELECT unnest(range(0, 30)) AS p) pl
      |  GROUP BY vec_id, p
      |), buckets AS MATERIALIZED (
      |  SELECT vec_id, p // 5 AS table_id,
      |    CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << (p % 5)) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id, p // 5
      |), cand AS MATERIALIZED (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM buckets a JOIN buckets b
      |    ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      |), scored AS MATERIALIZED (
      |  SELECT vec_a, vec_b, sim FROM (
      |    SELECT c.vec_a, c.vec_b,
      |      ROUND(${cosSql("ea.embedding::DOUBLE[]", "eb.embedding::DOUBLE[]")}, 6) AS sim
      |    FROM cand c
      |    JOIN embeddings ea ON ea.vec_id = c.vec_a
      |    JOIN embeddings eb ON eb.vec_id = c.vec_b)
      |  WHERE sim >= 0.3
      |), ts AS (SELECT CAST(unnest([0.3, 0.4, 0.5]) AS DOUBLE) AS t),
      |edges AS MATERIALIZED (
      |  SELECT t, vec_a AS src, vec_b AS dst FROM scored, ts WHERE sim >= t
      |  UNION ALL
      |  SELECT t, vec_b, vec_a FROM scored, ts WHERE sim >= t
      |), reach AS (
      |  SELECT t, src AS vec_id, dst AS r FROM edges
      |  UNION
      |  SELECT reach.t, reach.vec_id, e.dst
      |  FROM reach JOIN edges e ON reach.t = e.t AND reach.r = e.src
      |), comp AS MATERIALIZED (
      |  SELECT t, vec_id, LEAST(vec_id, MIN(r)) AS rep
      |  FROM reach GROUP BY t, vec_id
      |), pts AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_in_clusters,
      |    CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters
      |  FROM comp GROUP BY t
      |), np AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |  FROM scored, ts WHERE sim >= t GROUP BY t
      |), nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings)
      |SELECT ts.t AS threshold, n_vecs,
      |  COALESCE(n_pairs, 0) AS n_pairs,
      |  COALESCE(n_in_clusters, 0) AS n_in_clusters,
      |  COALESCE(n_clusters, 0) AS n_clusters,
      |  CAST(CAST(n_vecs - (COALESCE(n_in_clusters, 0) - COALESCE(n_clusters, 0))
      |    AS HUGEINT) * 1000000 // n_vecs AS BIGINT) AS kept_ppm
      |FROM ts CROSS JOIN nv
      |LEFT JOIN pts ON ts.t = pts.t
      |LEFT JOIN np ON ts.t = np.t
      |ORDER BY ts.t""".stripMargin

  // --- q56: semantic dedup — embedding near-dup clusters + canonical -------
  // The SemDeDup shape: cosine-LSH candidate pairs (the exact portable
  // buckets q54 proves) fed through connected components; the component
  // minimum is the kept vector. Oracle = q54's bucket/rerank CTEs composed
  // with the recursive-CTE closure q82 uses (MATERIALIZED, or DuckDB
  // re-inlines the pair join into every recursion step).
  def q56(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Similarity.lshSimilarPairs(Tables.embeddings(s, d),
      threshold = 0.4, numTables = 6, planesPerTable = 5, eagerSkewProbe = true)
      .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"))
    graft.operators.Dedup.clusterPairs(pairs)
      .select($"doc_id".as("vec_id"), $"cluster_rep", $"is_canonical")
      .orderBy($"vec_id")
  }
  val q56Sql: String =
    s"""WITH RECURSIVE comps AS MATERIALIZED (
      |  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |         unnest(embedding::DOUBLE[]) AS v
      |  FROM embeddings
      |), dots AS MATERIALIZED (
      |  SELECT vec_id, p,
      |    SUM(CAST(FLOOR(v * ((pos * 7919 + p * 1000003) * 2654435761 % 2049 - 1024) * 1e9)
      |        AS BIGINT)) AS d
      |  FROM comps, (SELECT unnest(range(0, 30)) AS p) pl
      |  GROUP BY vec_id, p
      |), buckets AS MATERIALIZED (
      |  SELECT vec_id, p // 5 AS table_id,
      |    CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << (p % 5)) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id, p // 5
      |), cand AS MATERIALIZED (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM buckets a JOIN buckets b
      |    ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      |), pairs AS MATERIALIZED (
      |  SELECT vec_a, vec_b FROM (
      |    SELECT c.vec_a, c.vec_b,
      |      ROUND(${cosSql("ea.embedding::DOUBLE[]", "eb.embedding::DOUBLE[]")}, 6) AS sim
      |    FROM cand c
      |    JOIN embeddings ea ON ea.vec_id = c.vec_a
      |    JOIN embeddings eb ON eb.vec_id = c.vec_b)
      |  WHERE sim >= 0.4
      |), edges AS MATERIALIZED (
      |  SELECT vec_a AS src, vec_b AS dst FROM pairs
      |  UNION ALL SELECT vec_b, vec_a FROM pairs
      |), reach AS (
      |  SELECT src AS vec_id, dst AS r FROM edges
      |  UNION
      |  SELECT reach.vec_id, edges.dst FROM reach JOIN edges ON reach.r = edges.src
      |)
      |SELECT vec_id, cluster_rep, vec_id = cluster_rep AS is_canonical FROM (
      |  SELECT vec_id, LEAST(vec_id, MIN(r)) AS cluster_rep
      |  FROM reach GROUP BY vec_id)
      |ORDER BY vec_id""".stripMargin

  // --- q57: symmetric int8 embedding quantization ---------------------------
  // The storage form a 100 TB vector lake actually keeps: per-vector scale
  // 127/max|v|, levels floor(v·scale + 0.5) — floor of identical IEEE
  // products is bit-equal in both engines (no HALF_UP-vs-llround tie
  // hazard), so the quantized levels hash-match exactly; the reconstruction
  // MSE routes through a decimal sum (order-independent) with a final
  // round(6) margin over the decimal-snap boundary (q51 note).
  def q57(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val comps = Tables.embeddings(s, d)
      .select($"vec_id", posexplode(asDouble($"embedding")).as(Seq("pos", "v")))
    val scales = comps.groupBy($"vec_id").agg(max(abs($"v")).as("vmax"))
    comps.join(scales, "vec_id")
      .withColumn("scale", lit(127.0) / $"vmax")
      .withColumn("q", floor($"v" * $"scale" + 0.5))
      .withColumn("err", $"v" - $"q" / $"scale")
      .groupBy($"vec_id")
      .agg(count(lit(1)).as("dim"),
        max(abs($"q")).cast("long").as("max_q"),
        sum($"q").cast("long").as("sum_q"),
        round(sum(($"err" * $"err").cast("decimal(28,20)")).cast("double")
          * 1e6 / count(lit(1)), 6).as("mse_ppm"))
      .orderBy($"vec_id")
  }
  val q57Sql: String =
    """WITH comps AS (
      |  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |         unnest(embedding::DOUBLE[]) AS v
      |  FROM embeddings
      |), scales AS (
      |  SELECT vec_id, MAX(ABS(v)) AS vmax FROM comps GROUP BY vec_id
      |), qq AS (
      |  SELECT c.vec_id, v, 127.0 / vmax AS scale,
      |         FLOOR(v * (127.0 / vmax) + 0.5) AS q
      |  FROM comps c JOIN scales s ON c.vec_id = s.vec_id
      |)
      |SELECT vec_id, COUNT(*) AS dim,
      |  CAST(MAX(ABS(q)) AS BIGINT) AS max_q,
      |  CAST(SUM(q) AS BIGINT) AS sum_q,
      |  ROUND(CAST(SUM(CAST((v - q / scale) * (v - q / scale) AS DECIMAL(28,20))) AS DOUBLE)
      |    * 1e6 / COUNT(*), 6) AS mse_ppm
      |FROM qq
      |GROUP BY vec_id
      |ORDER BY vec_id""".stripMargin

  // --- q122: k-means coarse-quantizer training (Lloyd's, 2 iterations) -----
  // The IVF trainer end-to-end: deterministic smallest-id seeding, two full
  // Lloyd's rounds (narrow broadcast-argmin assign + one k×dim-wide update
  // shuffle each), then the final assignment. The oracle unrolls the same
  // two iterations as chained CTEs — every arithmetic step (rounded squared
  // L2, decimal-routed centroid means) is engine-portable by construction,
  // so the oracle checks the TRAINER verbatim, not just its output shape.
  def q122(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cent = Similarity.trainKMeansCells(emb, k = 8, iters = 2)
    Similarity.assignKMeansCells(emb, cent)
      .select($"vec_id", $"cell")
      .orderBy($"vec_id")
  }
  private def kmAssign(centRel: String, embRel: String = "emb"): String =
    s"""SELECT vec_id, e, cell FROM (
       |    SELECT t.vec_id, t.e, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
       |        ROUND(list_inner_product(t.e, t.e) - 2*list_inner_product(t.e, c.c)
       |          + list_inner_product(c.c, c.c), 6) ASC, c.cell ASC) AS rn
       |    FROM $embRel t CROSS JOIN $centRel c) WHERE rn = 1""".stripMargin
  private def kmUpdate(assignRel: String): String =
    s"""SELECT cell, list(cv ORDER BY pos) AS c FROM (
       |    SELECT cell, pos,
       |      ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS cv
       |    FROM (SELECT cell, unnest(range(0, len(e))) AS pos, unnest(e) AS v
       |          FROM $assignRel)
       |    GROUP BY cell, pos) GROUP BY cell""".stripMargin
  val q122Sql: String =
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |c0 AS (SELECT vec_id AS cell, e AS c FROM emb ORDER BY vec_id LIMIT 8),
      |a0 AS (${kmAssign("c0")}),
      |c1 AS (${kmUpdate("a0")}),
      |a1 AS (${kmAssign("c1")}),
      |c2 AS (${kmUpdate("a1")}),
      |a2 AS (${kmAssign("c2")})
      |SELECT vec_id, cell FROM a2 ORDER BY vec_id""".stripMargin

  // --- q55: multimodal payload decode (mapPartitions stub) ----------------
  def q55(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Multimodal.attachPayload(Tables.documents(s, d))
    Multimodal.decodeStub(s, docs).toDF()
      .orderBy($"doc_id")
  }
  val q55Sql: String =
    """SELECT doc_id,
      |  CAST(strlen(text) AS INT) AS byte_len,
      |  CAST(strlen(text) % 640 AS INT) AS fake_width,
      |  CAST((strlen(text) * 7) % 480 AS INT) AS fake_height,
      |  lang
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // --- q310: REAL container decode — RIFF/WAVE parse over binary payloads --
  // The q55 decode path re-gated on a genuine codec instead of the
  // documented stub: each payload is wrapped into a well-formed WAV
  // container (8-bit mono PCM, canonical fmt chunk, an extra LIST/INFO
  // chunk so offset-44 shortcuts fail) and then PARSED byte-for-byte —
  // magic validation, little-endian header reads, chunk walk with RIFF
  // word-alignment pads — inside the same mapPartitions batch shape every
  // Multimodal stage uses. The oracle recomputes the PCM sample stats
  // directly from the source bytes (ASCII corpus: byte == codepoint) and
  // the container size from the RIFF layout arithmetic, so a decoder that
  // misreads a field, misaligns a chunk, or drops samples hash-misses.
  // 1-in-25 doc sample: the decode cost profile, not the corpus scan, is
  // what this query measures.
  def q310(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Multimodal.attachPayload(
      Tables.documents(s, d).filter($"doc_id" % 25 === 0))
    Multimodal.decodeWav(s, docs).toDF().orderBy($"doc_id")
  }
  val q310Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
      |b AS (
      |  SELECT doc_id, unicode(substr(text, CAST(i AS INT), 1)) AS v
      |  FROM d, unnest(range(1, length(text) + 1)) AS u(i))
      |SELECT doc_id,
      |  CAST(8000 AS INT) AS sample_rate,
      |  CAST(1 AS INT) AS n_channels,
      |  CAST(8 AS INT) AS bits,
      |  CAST(COUNT(*) AS BIGINT) AS n_samples,
      |  CAST(SUM(v) AS BIGINT) AS amp_sum,
      |  CAST(MAX(v) AS INT) AS amp_max,
      |  CAST(MIN(v) AS INT) AS amp_min,
      |  -- RIFF layout: 8 (RIFF hdr) + 4 (WAVE) + 24 (fmt) + 32 (LIST/INFO)
      |  -- + 8 (data hdr) + n samples + word-alignment pad
      |  CAST(76 + COUNT(*) + COUNT(*) % 2 AS BIGINT) AS container_bytes
      |FROM b GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // --- q329: REAL image-container decode — 24-bit BMP parse ----------------
  // The image sibling of q310's WAV parse: payloads become 41-px-wide
  // grayscale BMPs (41·3 = 123-byte rows force real 4-byte stride padding;
  // rows stored BOTTOM-UP per spec) and are parsed byte-level in
  // mapPartitions — both headers validated field-by-field, stride walk,
  // vertical un-flip, gray-consistency check per pixel. first_px/last_px
  // are position-sensitive: a decoder that skips the flip or miswalks the
  // stride fails the hash gate, not just malformed-input specs. The
  // oracle recomputes everything from the source bytes plus the explicit
  // zero-fill arithmetic of the last row (ASCII corpus — byte ==
  // codepoint, verified for q310). Disjoint 1-in-25 sample from q310's.
  def q329(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Multimodal.attachPayload(
      Tables.documents(s, d).filter($"doc_id" % 25 === 1 && length($"text") >= 1))
    Multimodal.decodeBmp(s, docs).toDF().orderBy($"doc_id")
  }
  val q329Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
      |    (length(text) + 40) // 41 AS h,
      |    unicode(substr(text, 1, 1)) AS first_v,
      |    unicode(substr(text, CAST(length(text) AS INT), 1)) AS last_raw
      |  FROM documents WHERE doc_id % 25 = 1 AND length(text) >= 1),
      |b AS (
      |  SELECT doc_id, unicode(substr(text, CAST(i AS INT), 1)) AS v
      |  FROM d, unnest(range(1, length(text) + 1)) AS u(i))
      |SELECT d.doc_id,
      |  CAST(41 AS INT) AS width,
      |  CAST(h AS INT) AS height,
      |  CAST(24 AS INT) AS bpp,
      |  CAST(41 * h AS BIGINT) AS n_pixels,
      |  CAST(SUM(v) AS BIGINT) AS px_sum,
      |  CAST(MAX(v) AS INT) AS px_max,
      |  CAST(CASE WHEN 41 * h > len THEN 0 ELSE MIN(v) END AS INT) AS px_min,
      |  CAST(first_v AS INT) AS first_px,
      |  CAST(CASE WHEN 41 * h = len THEN last_raw ELSE 0 END AS INT) AS last_px,
      |  CAST(124 AS INT) AS row_stride,
      |  CAST(54 + 124 * h AS BIGINT) AS container_bytes
      |FROM d JOIN b ON d.doc_id = b.doc_id
      |GROUP BY d.doc_id, h, len, first_v, last_raw
      |ORDER BY d.doc_id""".stripMargin

  // --- q85: frame sampling + per-frame features (video-pipeline shape) -----
  // mapPartitions generator (1 doc → ≤4 frames) followed by declarative
  // feature math; the deterministic stub slices/fingerprints make the whole
  // pipeline restatable as SQL over the source text (ASCII corpus: byte
  // ranges == char ranges).
  def q85(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frames = Multimodal.frameSampleStub(s,
      Multimodal.attachPayload(Tables.documents(s, d)), nFrames = 4).toDF()
    Multimodal.frameFeatures(frames, nFeatures = 2)
      .orderBy($"doc_id", $"frame_idx")
  }
  val q85Sql: String =
    """SELECT doc_id, frame_idx, frame_len, frame_md5,
      |  (frame_len * 1 + frame_idx * 31 + doc_id * 17) * 2654435761 % 1000 / 1000.0 AS feat_0,
      |  (frame_len * 2 + frame_idx * 31 + doc_id * 17) * 2654435761 % 1000 / 1000.0 AS feat_1
      |FROM (
      |  SELECT doc_id, f AS frame_idx,
      |    (f + 1) * strlen(text) // 4 - f * strlen(text) // 4 AS frame_len,
      |    md5(substr(text, f * strlen(text) // 4 + 1,
      |        (f + 1) * strlen(text) // 4 - f * strlen(text) // 4)) AS frame_md5
      |  FROM documents, (SELECT unnest(range(0, 4)) AS f) fr
      |  WHERE (f + 1) * strlen(text) // 4 > f * strlen(text) // 4)
      |ORDER BY doc_id, frame_idx""".stripMargin

  // --- q295: video near-dup pairs via frame fingerprints ---------------------
  // Multimodal dedup the way video pipelines actually do it without
  // decoding: two payloads are near-duplicates when they share ≥2 of
  // their sampled frames' fingerprints (q85's frame sampler — the codec
  // boundary stays the documented stub; everything downstream is real).
  // Scale guards mirror the text dedup path: frames under 16 bytes are
  // too low-entropy to mean anything (dropped), and a fingerprint
  // appearing in >100 docs is boilerplate (dropped — the q124 rule;
  // unguarded it makes the fingerprint self-join quadratic in the hot
  // key). The join is fingerprint-keyed — work ∝ Σ bucket², capped by
  // the hot filter, never all-pairs.
  def q295(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val frames = Multimodal.frameSampleStub(s,
        Multimodal.attachPayload(Tables.documents(s, d)), nFrames = 4)
      .toDF()
      .filter($"frame_len" >= 16)
      .persistTracked() // hot-filter + self-join consumers
    val hot = frames.groupBy($"frame_md5").agg(count(lit(1)).as("c"))
      .filter($"c" > 100).select($"frame_md5")
    val live = frames.join(broadcast(hot), Seq("frame_md5"), "left_anti")
    live.as("a").join(live.as("b"),
        $"a.frame_md5" === $"b.frame_md5" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(countDistinct($"a.frame_md5").as("n_shared"))
      .filter($"n_shared" >= 2)
      .orderBy($"doc_a", $"doc_b")
  }
  val q295Sql: String =
    """WITH fr AS (
      |  SELECT doc_id,
      |    (f + 1) * strlen(text) // 4 - f * strlen(text) // 4 AS frame_len,
      |    md5(substr(text, f * strlen(text) // 4 + 1,
      |        (f + 1) * strlen(text) // 4 - f * strlen(text) // 4)) AS frame_md5
      |  FROM documents, (SELECT unnest(range(0, 4)) AS f) g
      |  WHERE (f + 1) * strlen(text) // 4 - f * strlen(text) // 4 >= 16),
      |hot AS (
      |  SELECT frame_md5 FROM fr GROUP BY frame_md5 HAVING COUNT(*) > 100),
      |live AS (
      |  SELECT doc_id, frame_md5 FROM fr
      |  WHERE frame_md5 NOT IN (SELECT frame_md5 FROM hot))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(COUNT(DISTINCT a.frame_md5) AS BIGINT) AS n_shared
      |FROM live a JOIN live b
      |  ON a.frame_md5 = b.frame_md5 AND a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |HAVING COUNT(DISTINCT a.frame_md5) >= 2
      |ORDER BY doc_a, doc_b""".stripMargin

  // --- q86: resize/crop fingerprints (declarative media transforms) --------
  def q86(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.resizeStub(
      Multimodal.attachPayload(Tables.documents(s, d)), cropBytes = 256)
      .orderBy($"doc_id")
  }
  val q86Sql: String =
    """SELECT doc_id,
      |  CAST(strlen(text) AS INT) AS byte_len,
      |  md5(substr(text, 1, 256)) AS crop_md5,
      |  md5(regexp_replace(text, '(.).', '\1', 'g')) AS half_md5,
      |  CAST(strlen(regexp_replace(text, '(.).', '\1', 'g')) AS INT) AS half_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // --- q130: kNN label-vote classification (embedding-space eval) ----------
  // The standard embedding-quality probe: predict each vector's label by
  // majority vote of its 5 nearest neighbors (cosine, exact brute force),
  // and report the label confusion matrix. Vote tie-break is fully
  // deterministic: more votes, then nearer best neighbor (min rank), then
  // smaller label. Composes Similarity.bruteForceTopK — at scale swap in
  // ivfTopK and the rest of the query is unchanged. Queries are a
  // deterministic 10% probe sample (vec_id % 10 == 0): an eval probes, it
  // does not score the whole corpus — and the probe keeps the per-query
  // ranking window at 10% of the all-pairs row count.
  def q130(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter($"vec_id" % 10 === 0)
    val knn = Similarity.bruteForceTopK(probes, emb, k = 5)
    val nbrLab = emb.select($"vec_id".as("neighbor_id"), $"label".as("n_label"))
    val votes = knn.join(nbrLab, "neighbor_id")
      .groupBy($"query_id", $"n_label")
      .agg(count(lit(1)).as("votes"), min($"rank").as("best_rank"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"votes".desc, $"best_rank".asc, $"n_label".asc)
    val pred = votes.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"query_id", $"n_label".as("predicted"))
    pred.join(probes.select($"vec_id".as("query_id"), $"label".as("true_label")),
        "query_id")
      .groupBy($"true_label", $"predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy($"true_label", $"predicted")
  }
  val q130Sql: String =
    """WITH knn AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
      |          / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
      |             * sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c
      |      ON q.vec_id % 10 = 0 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |votes AS (
      |  SELECT k.query_id, e.label AS n_label, COUNT(*) AS votes, MIN(k.rank) AS best_rank
      |  FROM knn k JOIN embeddings e ON k.neighbor_id = e.vec_id
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT query_id, n_label AS predicted FROM (
      |    SELECT query_id, n_label,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY votes DESC, best_rank ASC, n_label ASC) AS rn
      |    FROM votes) WHERE rn = 1)
      |SELECT t.label AS true_label, p.predicted, COUNT(*) AS n
      |FROM pred p JOIN embeddings t ON p.query_id = t.vec_id
      |GROUP BY 1, 2
      |ORDER BY true_label, predicted""".stripMargin

  // --- q135: margin-based pair mining (LASER/CCMatrix criterion) ----------
  // Ratio-margin mining between two embedding "corpora" (even vs odd
  // vec_ids as the src/tgt stand-in): each src's top-4 target cosines are
  // candidates, scored by 2k·cos / (ΣF(src) + ΣB(tgt)) — the hubness
  // correction that makes mined pairs comparable across the space. Sums
  // of round(6) sims stay exact in decimal, margins snap once to the 1e-9
  // grid, output is the global top-40 via TakeOrderedAndProject.
  def q135(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    Similarity.marginMining(
      emb.filter($"vec_id" % 2 === 0), emb.filter($"vec_id" % 2 === 1),
      k = 4, topN = 40)
  }
  val q135Sql: String =
    """WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
      |b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
      |sims AS (
      |  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
      |    ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |      / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
      |         * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS sim
      |  FROM a CROSS JOIN b),
      |fwd AS (
      |  SELECT src_id, tgt_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rn
      |  FROM sims),
      |bwd AS (
      |  SELECT src_id, tgt_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS rn
      |  FROM sims),
      |sumf AS (SELECT src_id, SUM(CAST(sim AS DECIMAL(18,9))) AS sum_f
      |         FROM fwd WHERE rn <= 4 GROUP BY 1),
      |sumb AS (SELECT tgt_id, SUM(CAST(sim AS DECIMAL(18,9))) AS sum_b
      |         FROM bwd WHERE rn <= 4 GROUP BY 1),
      |cand AS (SELECT src_id, tgt_id, sim FROM fwd WHERE rn <= 4),
      |scored AS (
      |  SELECT src_id, tgt_id, sim,
      |    CAST(round(8.0 * sim / CAST(sum_f + sum_b AS DOUBLE) * 1e9) AS BIGINT) AS m9
      |  FROM cand JOIN sumf USING (src_id) JOIN sumb USING (tgt_id))
      |SELECT src_id, tgt_id, sim, CAST(m9 AS DOUBLE) / 1e9 AS margin
      |FROM scored
      |ORDER BY m9 DESC, src_id, tgt_id
      |LIMIT 40""".stripMargin

  // --- q136: product-quantization ADC search (the compressed-ANN path) ----
  // Jégou et al. 2011 end-to-end: per-subspace deterministic k-means
  // codebooks (m=4 subspaces × k=4 codewords, one Lloyd iteration — the
  // q122 trainer verbatim on each slice), dense codeword re-index, m-long
  // codes per vector, then asymmetric-distance top-5 for the 8 probe
  // queries. Every arithmetic step is the engine-portable kind q122/q53
  // proved (rounded squared L2, decimal means, decimal ADC sums), so the
  // oracle restates the trainer, the encoder, AND the ADC search verbatim
  // — the APPROXIMATE semantics are hash-checked exactly; recall vs brute
  // force is SimilaritySpec's job.
  def q136(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cb = Similarity.trainPqCodebooks(emb, m = 4, k = 4, iters = 1)
    val codes = Similarity.pqEncode(emb, cb, m = 4)
    Similarity.pqTopK(emb.filter($"vec_id" < 8), codes, cb, m = 4, k = 5)
      .orderBy($"query_id", $"rank")
  }
  // shared CTE text: rounded squared L2 between two DOUBLE[] lists — the
  // exact arithmetic order Similarity.sqDistRounded evaluates in
  private def sqd(a: String, b: String): String =
    s"""ROUND(list_inner_product($a, $a) - 2*list_inner_product($a, $b)
       |          + list_inner_product($b, $b), 6)""".stripMargin
  // the PQ trainer/encoder/LUT CTE block shared by q136 (flat ADC), q141
  // (IVF-PQ), and q194 (incremental append): expects an `emb` CTE with
  // (vec_id, e DOUBLE[], d). `trainPred` restricts which vectors TRAIN
  // the codebooks (q194's append semantics: train on the base corpus,
  // encode everything); TRUE trains on the full corpus (q136/q141).
  private def pqCtesWhere(trainPred: String): String =
    s"""subs AS (
      |  SELECT vec_id, s.sub,
      |    list_slice(e, (s.sub*d)//4 + 1, ((s.sub+1)*d)//4) AS se
      |  FROM emb, (SELECT unnest(range(0, 4)) AS sub) s
      |), tsubs AS (
      |  SELECT * FROM subs WHERE $trainPred
      |), c0 AS (
      |  SELECT sub, vec_id AS cell, se AS c FROM (
      |    SELECT sub, vec_id, se,
      |      ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
      |    FROM tsubs) WHERE rn <= 4
      |), a0 AS (
      |  SELECT vec_id, sub, se, cell FROM (
      |    SELECT t.vec_id, t.sub, t.se, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
      |        ${sqd("t.se", "c.c")} ASC, c.cell ASC) AS rn
      |    FROM tsubs t JOIN c0 c ON t.sub = c.sub) WHERE rn = 1
      |), c1 AS (
      |  SELECT sub, cell, list(cv ORDER BY pos) AS c FROM (
      |    SELECT sub, cell, pos,
      |      ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS cv
      |    FROM (SELECT sub, cell, unnest(range(0, len(se))) AS pos, unnest(se) AS v
      |          FROM a0)
      |    GROUP BY sub, cell, pos) GROUP BY sub, cell
      |), cb AS (
      |  SELECT sub, cell, c,
      |    ROW_NUMBER() OVER (PARTITION BY sub ORDER BY cell) - 1 AS cw
      |  FROM c1
      |), codes AS (
      |  SELECT vec_id, sub, cw FROM (
      |    SELECT t.vec_id, t.sub, c.cw,
      |      ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
      |        ${sqd("t.se", "c.c")} ASC, c.cw ASC) AS rn
      |    FROM subs t JOIN cb c ON t.sub = c.sub) WHERE rn = 1
      |), lut AS (
      |  SELECT q.vec_id AS query_id, c.sub, c.cw,
      |    ${sqd("q.se", "c.c")} AS dist
      |  FROM subs q JOIN cb c ON q.sub = c.sub WHERE q.vec_id < 8
      |)""".stripMargin

  private def pqCtes: String = pqCtesWhere("TRUE")
  val q136Sql: String =
    s"""WITH emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e, len(embedding) AS d FROM embeddings
      |), $pqCtes, adist AS (
      |  SELECT l.query_id, k.vec_id AS neighbor_id,
      |    CAST(SUM(CAST(l.dist AS DECIMAL(18,6))) AS DOUBLE) AS adist
      |  FROM codes k JOIN lut l ON k.sub = l.sub AND k.cw = l.cw
      |  WHERE k.vec_id <> l.query_id
      |  GROUP BY 1, 2
      |)
      |SELECT query_id, neighbor_id, rank, adist FROM (
      |  SELECT query_id, neighbor_id, adist,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY adist ASC, neighbor_id) AS rank
      |  FROM adist) WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- q141: IVF-PQ — the composed 100 TB ANN system layout ----------------
  // q53 (probed cells) × q136 (compressed codes) as ONE pipeline, the
  // Jégou 2011 IVFADC shape: a 1-iteration coarse k-means (k=8) bounds
  // WHICH vectors are scanned (probe 3 of 8 cells by the same rounded L2
  // the assignment uses), PQ codes bound WHAT is read per vector (m longs
  // via the broadcast ADC LUT). Every stage reuses a proven-portable
  // fragment — the oracle is literally q122's trainer CTEs + q136's PQ
  // CTEs + a probe CTE — so the full system is hash-checked end to end.
  def q141(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cent = Similarity.trainKMeansCells(emb, k = 8, iters = 1)
    val cells = Similarity.assignKMeansCells(emb, cent).select($"vec_id", $"cell")
    val cb = Similarity.trainPqCodebooks(emb, m = 4, k = 4, iters = 1)
    val codes = Similarity.pqEncode(emb, cb, m = 4)
    Similarity.ivfPqTopK(emb.filter($"vec_id" < 8), cells, codes, cent, cb,
        m = 4, k = 5, nprobe = 3)
      .orderBy($"query_id", $"rank")
  }
  val q141Sql: String =
    s"""WITH emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e, len(embedding) AS d FROM embeddings
      |), kc0 AS (SELECT vec_id AS cell, e AS c FROM emb ORDER BY vec_id LIMIT 8),
      |ka0 AS (${kmAssign("kc0")}),
      |kc1 AS (${kmUpdate("ka0")}),
      |cells AS (SELECT vec_id, cell FROM (${kmAssign("kc1")}) t),
      |$pqCtes,
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ${sqd("q.e", "c.c")} ASC, c.cell ASC) AS crank
      |    FROM emb q CROSS JOIN kc1 c WHERE q.vec_id < 8)
      |  WHERE crank <= 3
      |), adist AS (
      |  SELECT p.query_id, k.vec_id AS neighbor_id,
      |    CAST(SUM(CAST(l.dist AS DECIMAL(18,6))) AS DOUBLE) AS adist
      |  FROM codes k
      |  JOIN cells ce ON k.vec_id = ce.vec_id
      |  JOIN probes p ON ce.cell = p.cell
      |  JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub AND l.cw = k.cw
      |  WHERE k.vec_id <> p.query_id
      |  GROUP BY 1, 2
      |)
      |SELECT query_id, neighbor_id, rank, adist FROM (
      |  SELECT query_id, neighbor_id, adist,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY adist ASC, neighbor_id) AS rank
      |  FROM adist) WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- q168: IVF-PQ probe through the materialized cell-bucketed layout ---
  // Same answer as q141 (the oracle IS q141Sql), different physical path —
  // the q161/q152 pattern applied to vectors: coarse training, cell
  // assignment, and PQ encoding run ONCE per dataset dir and the codes
  // table is written partitionBy(cell) (sources/VectorIndex); the probe
  // computes its cells against the centroid sidecar, collects the ≤kCells
  // distinct probed cells driver-side, and filters the codes read with a
  // LITERAL IN list — Catalyst prunes the unprobed cells' files at
  // planning time (proven live in SourcesSpec, the InvertedIndex-spec
  // pattern). Oracle equality proves the staged path answer-identical to
  // the in-plan operator; at 100 TB the probe reads nprobe/kCells of the
  // index's files instead of all of them.
  /** The dataset's staged IVF-PQ layout (Stage.derived: built once per
    * source content, shared by q168's batch probe and q197's streaming
    * probe — one serving artifact, two access paths). */
  private def vecIdx(s: SparkSession, d: String): java.nio.file.Path =
    graft.Stage.derived("vecidx_8x4x4", d) { p =>
      graft.sources.VectorIndex.build(Tables.embeddings(s, d), p.toString,
        kCells = 8, cellIters = 1, m = 4, kCw = 4, pqIters = 1)
    }

  def q168(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.sources.VectorIndex.probeTopK(s, vecIdx(s, d).toString,
        Tables.embeddings(s, d).filter($"vec_id" < 8), m = 4, k = 5, nprobe = 3)
      .orderBy($"query_id", $"rank")
  }
  val q168Sql: String = q141Sql

  // --- q197: streaming ANN probe against the materialized index -----------
  // The serving loop closed: query vectors arrive as a STREAM and each
  // micro-batch runs the partition-pruned probe against the SAME staged
  // IVF-PQ layout q168 reads — a stream-static pattern whose static side
  // is the codes scan pruned to the batch's probed cells, demonstrating
  // the index as a live serving artifact rather than an offline file.
  // The probe is not a streaming-compatible plan (bounded driver-side
  // probe-cell collect, ranking window), so it rides foreachBatch
  // (Streams.drainToParquet) into an append sink; the drained sink must
  // equal the batch probe over the same queries — the oracle IS q141Sql,
  // so a batch boundary that lost, duplicated, or re-ranked a query's
  // results hash-misses. Per-invocation sink+checkpoint (the q129
  // convention: the drain is the measured work; the index build is
  // content-staged and shared).
  def q197(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = vecIdx(s, d)
    val base = graft.TempDirs.fresh("graft_annstream")
    val queries = graft.streaming.Streams
      .tableStream(s, d, "embeddings.parquet")
      .filter($"vec_id" < 8)
    graft.streaming.Streams.drainToParquet(queries,
        s"$base/sink", s"$base/ckpt") { (batch, _) =>
      graft.sources.VectorIndex.probeTopK(s, idx.toString, batch,
        m = 4, k = 5, nprobe = 3)
    }
    s.read.parquet(s"$base/sink").orderBy($"query_id", $"rank")
  }
  val q197Sql: String = q141Sql

  // --- q215: IVF cell-balance health report (vector-index observability) ---
  // q214's audit for the vector index: per-cell code counts read FROM
  // THE STAGED LAYOUT, each with its load factor n_codes·k/n (1.0 =
  // perfectly balanced) — the diagnostic that decides when a coarse
  // quantizer needs retraining (a hot cell defeats partition pruning:
  // probes that hit it read a disproportionate share of the index's
  // files). The oracle recomputes the assignment from scratch, so the
  // report also re-proves the staged codes table's global cell content
  // (build + any appends) against the quantizer definition. Products
  // route through decimal before the single snapped division (counts
  // cross 2^53 at corpus scale). Index-scan + one cell-keyed agg.
  def q215(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = s.read.parquet(s"${vecIdx(s, d)}/codes")
      .groupBy($"cell").agg(count(lit(1)).as("n_codes"))
    val tot = counts.agg(sum($"n_codes").as("n"), count(lit(1)).as("k"))
    counts.crossJoin(broadcast(tot))
      .select($"cell", $"n_codes",
        (round(($"n_codes".cast("decimal(38,0)") * $"k".cast("decimal(38,0)"))
            .cast("double") / $"n".cast("double") * 1e9)
          .cast("long").cast("double") / 1e9).as("load_factor"))
      .orderBy($"cell")
  }
  val q215Sql: String =
    s"""WITH emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e, len(embedding) AS d FROM embeddings
      |), kc0 AS (SELECT vec_id AS cell, e AS c FROM emb ORDER BY vec_id LIMIT 8),
      |ka0 AS (${kmAssign("kc0")}),
      |kc1 AS (${kmUpdate("ka0")}),
      |cells AS (SELECT vec_id, cell FROM (${kmAssign("kc1")}) t),
      |c AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_codes FROM cells GROUP BY cell),
      |t AS (SELECT CAST(SUM(n_codes) AS BIGINT) AS n, COUNT(*) AS k FROM c)
      |SELECT cell, n_codes,
      |  CAST(CAST(round(CAST(CAST(n_codes AS HUGEINT) * k AS DOUBLE)
      |    / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS load_factor
      |FROM c CROSS JOIN t
      |ORDER BY cell""".stripMargin

  // --- q201: streaming index ingest (VectorIndex.append per micro-batch) ---
  // q194's append contract under a STREAM: the ingest batch arrives as a
  // two-file backlog drained with maxFilesPerTrigger=1, so the index
  // absorbs TWO separate append micro-batches through a checkpointed
  // foreachBatch (restart-safe at file-source offsets; append is
  // content-based, so the final codes table — and therefore the probe —
  // is independent of how the delta was batched). The oracle is q194Sql
  // verbatim: train on the base batch, encode everything, which is
  // exactly what build + N appends must reconstruct — a batch boundary
  // that dropped, duplicated, or re-encoded a vector hash-misses. This
  // closes the ingest loop the way q197 closed serving: the materialized
  // ANN layout is now demonstrably a live artifact on BOTH ends.
  // The whole build+drain stages once per dataset content (Stage.derived,
  // the q194 discipline — ingest is an ingest-time cost).
  def q201(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val staged = graft.Stage.derived("vecidx_stream_ingest", d) { p =>
      val emb = Tables.embeddings(s, d)
      graft.sources.VectorIndex.build(emb.filter($"vec_id" % 5 =!= 3),
        s"$p/index", kCells = 8, cellIters = 1, m = 4, kCw = 4, pqIters = 1)
      emb.filter($"vec_id" % 5 === 3).repartition(2)
        .write.parquet(s"$p/delta")
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$p/delta")
      graft.streaming.Streams.drainBatches(stream, s"$p/ckpt") { (batch, _) =>
        graft.sources.VectorIndex.append(s, batch, s"$p/index")
      }
    }
    graft.sources.VectorIndex.probeTopK(s, s"$staged/index",
        Tables.embeddings(s, d).filter($"vec_id" < 8), m = 4, k = 5, nprobe = 3)
      .orderBy($"query_id", $"rank")
  }
  // lazy: q194Sql is declared later in the file — a plain val here would
  // capture null at object-init time
  lazy val q201Sql: String = q194Sql

  // --- q194: incremental ANN index maintenance (VectorIndex.append) --------
  // The q189 contract applied to vectors: the corpus arrives as TWO
  // batches (vec_id mod 5 split), the first TRAINS and builds the
  // IVF-PQ layout, the second is APPENDED — assigned to the existing
  // coarse cells, encoded with the existing codebooks, new code files
  // only under the touched cell partitions — and the probe over the
  // maintained index must equal computing the same quantization of the
  // full corpus from scratch. The oracle restates exactly that
  // asymmetry: trainer CTEs (coarse k-means seeds/update, PQ codebooks)
  // range over the BASE batch only, assignment/encoding CTEs range over
  // the full corpus — so a lost appended vector, a vector encoded with
  // retrained codebooks, or a code file landed in the wrong cell
  // partition all hash-miss. SourcesSpec separately proves the append
  // touched only the assigned cells' directories. At 100 TB this is the
  // serving story for the ANN index: ingest batches absorb in batch-
  // sized work while the layout keeps its planning-time partition
  // pruning.
  def q194(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = graft.Stage.derived("vecidx_incr_8x4x4", d) { p =>
      val emb = Tables.embeddings(s, d)
      graft.sources.VectorIndex.build(emb.filter($"vec_id" % 5 =!= 3),
        p.toString, kCells = 8, cellIters = 1, m = 4, kCw = 4, pqIters = 1)
      graft.sources.VectorIndex.append(s, emb.filter($"vec_id" % 5 === 3),
        p.toString)
    }
    graft.sources.VectorIndex.probeTopK(s, base.toString,
        Tables.embeddings(s, d).filter($"vec_id" < 8), m = 4, k = 5, nprobe = 3)
      .orderBy($"query_id", $"rank")
  }
  val q194Sql: String =
    s"""WITH emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e, len(embedding) AS d FROM embeddings
      |), train AS (SELECT * FROM emb WHERE vec_id % 5 <> 3),
      |kc0 AS (SELECT vec_id AS cell, e AS c FROM train ORDER BY vec_id LIMIT 8),
      |ka0 AS (${kmAssign("kc0", "train")}),
      |kc1 AS (${kmUpdate("ka0")}),
      |cells AS (SELECT vec_id, cell FROM (${kmAssign("kc1")}) t),
      |${pqCtesWhere("vec_id % 5 <> 3")},
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ${sqd("q.e", "c.c")} ASC, c.cell ASC) AS crank
      |    FROM emb q CROSS JOIN kc1 c WHERE q.vec_id < 8)
      |  WHERE crank <= 3
      |), adist AS (
      |  SELECT p.query_id, k.vec_id AS neighbor_id,
      |    CAST(SUM(CAST(l.dist AS DECIMAL(18,6))) AS DOUBLE) AS adist
      |  FROM codes k
      |  JOIN cells ce ON k.vec_id = ce.vec_id
      |  JOIN probes p ON ce.cell = p.cell
      |  JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub AND l.cw = k.cw
      |  WHERE k.vec_id <> p.query_id
      |  GROUP BY 1, 2
      |)
      |SELECT query_id, neighbor_id, rank, adist FROM (
      |  SELECT query_id, neighbor_id, adist,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY adist ASC, neighbor_id) AS rank
      |  FROM adist) WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- q277: ANN index maintenance decision (append vs retrain) -------------
  // Closes the index lifecycle q194 opened: VectorIndex.maintenancePlan
  // judges each ingest batch against the STAGED layout — centroid drift
  // (q203's snapped sq-L2, batch mean vs code-count-weighted centroid
  // mean) plus projected cell balance (q215's load factor with the
  // batch's assignments added) — and emits append or retrain. Two
  // batches exercise BOTH outcomes inside the gated query itself: the
  // held-in-distribution vec_id%5==3 slice (expected: append) and the
  // same slice shifted +3.0 per component (drift ≈ 9·64 ≫ the 4.0
  // threshold — expected: retrain). The oracle recomputes the staged
  // quantizer from scratch (the q215 discipline), re-derives both
  // batches, and restates the decision arithmetic — a mean computed off
  // the wrong weights, a misassigned batch vector, or a float-smuggled
  // threshold comparison all hash-miss.
  def q277(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = vecIdx(s, d)
    val slice = Tables.embeddings(s, d).filter($"vec_id" % 5 === 3)
    val batches = slice
      .select(lit("a_indist").as("batch_id"), $"vec_id",
        graft.functions.VectorFunctions.asDouble($"embedding").as("embedding"))
      .unionByName(slice.select(lit("b_shifted").as("batch_id"), $"vec_id",
        transform(graft.functions.VectorFunctions.asDouble($"embedding"),
          x => x + lit(3.0)).as("embedding")))
    graft.sources.VectorIndex.maintenancePlan(s, idx.toString, batches,
      driftSqMax = 4.0, loadFactorMax = 3L)
  }
  val q277Sql: String =
    s"""WITH emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e, len(embedding) AS d FROM embeddings
      |), kc0 AS (SELECT vec_id AS cell, e AS c FROM emb ORDER BY vec_id LIMIT 8),
      |ka0 AS (${kmAssign("kc0")}),
      |kc1 AS MATERIALIZED (${kmUpdate("ka0")}),
      |cells AS (SELECT vec_id, cell FROM (${kmAssign("kc1")}) t),
      |cc AS MATERIALIZED (
      |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_cell FROM cells GROUP BY cell),
      |tot AS (SELECT CAST(SUM(n_cell) AS BIGINT) AS n_idx FROM cc),
      |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM kc1),
      |imean AS (
      |  SELECT list(imv ORDER BY pos) AS im FROM (
      |    SELECT pos,
      |      ROUND(CAST(SUM(CAST(cv AS DECIMAL(18,9)) * n_cell) AS DOUBLE)
      |        / SUM(n_cell), 6) AS imv
      |    FROM (SELECT k.cell, unnest(range(0, len(k.c))) AS pos,
      |            unnest(k.c) AS cv, cc.n_cell
      |          FROM kc1 k JOIN cc ON cc.cell = k.cell)
      |    GROUP BY pos)),
      |b AS MATERIALIZED (
      |  SELECT 'a_indist' AS batch_id, vec_id, e FROM emb WHERE vec_id % 5 = 3
      |  UNION ALL
      |  SELECT 'b_shifted', vec_id, list_transform(e, x -> x + 3.0)
      |  FROM emb WHERE vec_id % 5 = 3),
      |bmean AS (
      |  SELECT batch_id, list(bv ORDER BY pos) AS bm FROM (
      |    SELECT batch_id, pos,
      |      ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS bv
      |    FROM (SELECT batch_id, unnest(range(0, len(e))) AS pos, unnest(e) AS v
      |          FROM b)
      |    GROUP BY batch_id, pos) GROUP BY batch_id),
      |drift AS (
      |  SELECT batch_id, ${sqd("bm", "im")} AS drift_sq
      |  FROM bmean CROSS JOIN imean),
      |basg AS (
      |  SELECT batch_id, cell FROM (
      |    SELECT t.batch_id, t.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY t.batch_id, t.vec_id ORDER BY
      |        ${sqd("t.e", "c.c")} ASC, c.cell ASC) AS rn
      |    FROM b t CROSS JOIN kc1 c) WHERE rn = 1),
      |bcell AS (
      |  SELECT batch_id, cell, CAST(COUNT(*) AS BIGINT) AS n_b
      |  FROM basg GROUP BY 1, 2),
      |bn AS (SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_new FROM b GROUP BY 1),
      |proj AS (
      |  SELECT g.batch_id,
      |    MAX(COALESCE(cc.n_cell, 0) + COALESCE(bc.n_b, 0)) AS max_proj
      |  FROM (SELECT bn.batch_id, k.cell FROM bn CROSS JOIN kc1 k) g
      |  LEFT JOIN cc ON cc.cell = g.cell
      |  LEFT JOIN bcell bc ON bc.batch_id = g.batch_id AND bc.cell = g.cell
      |  GROUP BY 1)
      |SELECT bn.batch_id, bn.n_new, drift.drift_sq,
      |  CAST(proj.max_proj AS BIGINT) AS max_proj,
      |  drift.drift_sq > 4.0 AS drift_flag,
      |  proj.max_proj * kk.k > 3 * (tot.n_idx + bn.n_new) AS load_flag,
      |  CASE WHEN drift.drift_sq > 4.0
      |         OR proj.max_proj * kk.k > 3 * (tot.n_idx + bn.n_new)
      |       THEN 'retrain' ELSE 'append' END AS decision
      |FROM bn
      |JOIN drift USING (batch_id) JOIN proj USING (batch_id)
      |CROSS JOIN tot CROSS JOIN kk
      |ORDER BY batch_id""".stripMargin

  // --- q279: MMR diversified re-ranking (retrieval post-processing) ---------
  // Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
  // standard diversification pass between "top-k by similarity" and
  // "what a RAG prompt actually wants": greedily pick argmax of
  // λ·rel(x) − (1−λ)·max_{s∈selected} sim(x, s), λ=0.5, so near-
  // duplicates of an already-selected result are passed over for
  // diverse-but-relevant ones. Shape honesty: the CORPUS-scale stage is
  // candidate generation (q50's brute-force cosine top-10 here — any
  // retrieval query upstream at 100 TB); re-ranking is inherently
  // candidate-sized (10 rows, 10×10 pairwise sims), unrolled as four
  // greedy rounds of tiny plans. Exactness: rel and pairwise sims are
  // the q50 rounded-cosine (1e-6 snap); each MMR score is the single
  // chain 0.5·rel − 0.5·maxsim of snapped inputs — identical IEEE
  // doubles both engines — with vec_id tie-breaks everywhere.
  def q279(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cand = Similarity.bruteForceTopK(emb.filter($"vec_id" === 0), emb,
        k = 10, queryCountHint = 1)
      .select($"neighbor_id".as("vec_id"), $"rank".as("rel_rank"),
        $"sim".as("rel"))
      .localCheckpoint(true) // 10 rows
    val ce = cand.join(emb, "vec_id")
      .select($"vec_id", asDouble($"embedding").as("e"), $"rel")
    val pd = ce.as("a").join(ce.as("b"), $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("va"), $"b.vec_id".as("vb"),
        round(dotProduct($"a.e", $"b.e")
          / (l2Norm($"a.e") * l2Norm($"b.e")), 6).as("sim"))
      .localCheckpoint(true) // 10×10 grid
    val s1 = cand.filter($"rel_rank" === 1)
      .select(lit(1).as("rank"), $"vec_id", $"rel",
        lit(null).cast("double").as("mmr"))
    val sel5 = (2 to 5).foldLeft(s1.localCheckpoint(true)) { (sel, k) =>
      val pick = cand.join(sel.select($"vec_id").as("x"), Seq("vec_id"),
          "left_anti")
        .join(pd, $"vec_id" === $"va")
        .join(sel.select($"vec_id".as("vb")), Seq("vb"))
        .groupBy($"vec_id", $"rel")
        .agg((lit(0.5) * $"rel" - lit(0.5) * max($"sim")).as("mmr"))
        .orderBy($"mmr".desc, $"vec_id").limit(1)
        .select(lit(k).as("rank"), $"vec_id", $"rel", $"mmr")
      sel.unionByName(pick).localCheckpoint(true)
    }
    sel5.orderBy($"rank")
  }
  val q279Sql: String = {
    def round2(k: Int, prevSel: String): String =
      s"""r$k AS (
         |  SELECT c.vec_id, c.rel, 0.5 * c.rel - 0.5 * MAX(pd.sim) AS mmr
         |  FROM cand c
         |  JOIN pd ON pd.va = c.vec_id
         |    AND pd.vb IN (SELECT vec_id FROM $prevSel)
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prevSel)
         |  GROUP BY c.vec_id, c.rel),
         |s$k AS MATERIALIZED (
         |  SELECT $k AS rank, vec_id, rel, mmr FROM r$k
         |  ORDER BY mmr DESC, vec_id LIMIT 1),
         |sel$k AS MATERIALIZED (
         |  SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM s$k)"""
        .stripMargin
    val rounds = (2 to 5).map(k => round2(k, s"sel${k - 1}")).mkString(",\n")
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT e FROM emb WHERE vec_id = 0),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, rel, rk FROM (
       |    SELECT c.vec_id,
       |      ROUND(list_inner_product(q.e, c.e)
       |        / (sqrt(list_inner_product(q.e, q.e))
       |           * sqrt(list_inner_product(c.e, c.e))), 6) AS rel,
       |      ROW_NUMBER() OVER (ORDER BY
       |        ROUND(list_inner_product(q.e, c.e)
       |          / (sqrt(list_inner_product(q.e, q.e))
       |             * sqrt(list_inner_product(c.e, c.e))), 6) DESC,
       |        c.vec_id) AS rk
       |    FROM emb c CROSS JOIN q WHERE c.vec_id <> 0)
       |  WHERE rk <= 10),
       |ce AS (SELECT cand.vec_id, e, rel FROM cand JOIN emb USING (vec_id)),
       |pd AS MATERIALIZED (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    ROUND(list_inner_product(a.e, b.e)
       |      / (sqrt(list_inner_product(a.e, a.e))
       |         * sqrt(list_inner_product(b.e, b.e))), 6) AS sim
       |  FROM ce a JOIN ce b ON a.vec_id <> b.vec_id),
       |sel1 AS MATERIALIZED (
       |  SELECT 1 AS rank, vec_id, rel, CAST(NULL AS DOUBLE) AS mmr
       |  FROM cand WHERE rk = 1),
       |$rounds
       |SELECT rank, vec_id, rel, mmr FROM sel5 ORDER BY rank""".stripMargin
  }

  // --- q203: embedding centroid drift between sources -----------------------
  // The embedding-space twin of q106's token-distribution divergence: a
  // per-source mean vector (the q52/q122 decimal-routed, round(6)
  // component mean — exact cross-engine) and the pairwise ROUNDED
  // squared-L2 distance matrix between source centroids. A source whose
  // centroid sits far from the rest is the drift/contamination signal
  // embedding-based curation cuts on (SemDeDup-style pipelines monitor
  // exactly this before clustering). Embeddings align to documents
  // 1:1 by id (vec_id = doc_id, the q56 join). Shape: one posexplode
  // aggregation (corpus×dim rows, hash-shuffled on (source, pos)), then
  // everything is sources²-sized — the cross join is over a handful of
  // centroid rows, broadcast by construction.
  def q203(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select($"vec_id",
      graft.functions.VectorFunctions.asDouble($"embedding").as("e"))
    val src = Tables.documents(s, d).select($"doc_id".as("vec_id"), $"source")
    val cent = emb.join(src, "vec_id")
      .select($"source", posexplode($"e").as(Seq("pos", "v")))
      .groupBy($"source", $"pos")
      .agg(round(sum($"v".cast("decimal(18,9)")).cast("double") / count(lit(1)), 6)
        .as("cv"))
      .groupBy($"source")
      .agg(array_sort(collect_list(struct($"pos", $"cv")))
        .getField("cv").as("centroid"))
    cent.as("a").join(cent.as("b"), $"a.source" < $"b.source")
      .select($"a.source".as("src_a"), $"b.source".as("src_b"),
        graft.operators.Similarity.sqDistRounded($"a.centroid", $"b.centroid")
          .as("sq_dist"))
      .orderBy($"src_a", $"src_b")
  }
  val q203Sql: String =
    s"""WITH emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |cent AS (
      |  SELECT source, list(cv ORDER BY pos) AS c FROM (
      |    SELECT d.source, pos,
      |      ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS cv
      |    FROM (SELECT vec_id, unnest(range(0, len(e))) AS pos, unnest(e) AS v
      |          FROM emb) x
      |    JOIN documents d ON d.doc_id = x.vec_id
      |    GROUP BY d.source, pos) GROUP BY source)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  ${sqd("a.c", "b.c")} AS sq_dist
      |FROM cent a JOIN cent b ON a.source < b.source
      |ORDER BY src_a, src_b""".stripMargin

  // --- q178: classifier evaluation (per-class precision/recall/F1) ----------
  // Closes the eval loop over q130's kNN label votes: from the
  // (true_label, predicted) prediction table, per class c —
  // tp = n(c,c), fp = predicted-c minus tp, fn = true-c minus tp,
  // precision = tp/(tp+fp), recall = tp/(tp+fn), and F1 computed
  // DIRECTLY from integers as 2·tp/(2·tp+fp+fn) — one IEEE division of
  // exact small ints rather than the chained 2pr/(p+r) form (which
  // compounds two divisions and hits 0/0 whenever a class is never
  // predicted). Degenerate denominators guard with NULL on both sides
  // (the q153 rule). One prediction-table-sized aggregation; the heavy
  // stage is the same brute-force kNN q130 audits.
  def q178(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter($"vec_id" % 10 === 0)
    val knn = Similarity.bruteForceTopK(probes, emb, k = 5)
    val nbrLab = emb.select($"vec_id".as("neighbor_id"), $"label".as("n_label"))
    val votes = knn.join(nbrLab, "neighbor_id")
      .groupBy($"query_id", $"n_label")
      .agg(count(lit(1)).as("votes"), min($"rank").as("best_rank"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"votes".desc, $"best_rank".asc, $"n_label".asc)
    val pred = votes.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"query_id", $"n_label".as("predicted"))
      .join(probes.select($"vec_id".as("query_id"), $"label".as("true_label")),
        "query_id")
    val byTrue = pred.groupBy($"true_label".as("label"))
      .agg(count(lit(1)).as("support"),
        sum(when($"predicted" === $"true_label", 1L).otherwise(0L)).as("tp"))
    val byPred = pred.groupBy($"predicted".as("label"))
      .agg(count(lit(1)).as("n_predicted"))
    byTrue.join(byPred, Seq("label"), "left")
      .select($"label", $"support", $"tp",
        (coalesce($"n_predicted", lit(0L)) - $"tp").as("fp"),
        ($"support" - $"tp").as("fn"))
      .select($"label", $"support", $"tp", $"fp", $"fn",
        when($"tp" + $"fp" === 0, lit(null).cast("double"))
          .otherwise($"tp".cast("double") / ($"tp" + $"fp")).as("precision"),
        ($"tp".cast("double") / $"support").as("recall"),
        when($"tp" * 2 + $"fp" + $"fn" === 0, lit(null).cast("double"))
          .otherwise(($"tp" * 2).cast("double") / ($"tp" * 2 + $"fp" + $"fn"))
          .as("f1"))
      .orderBy($"label")
  }
  val q178Sql: String =
    """WITH knn AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
      |          / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
      |             * sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c
      |      ON q.vec_id % 10 = 0 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |votes AS (
      |  SELECT k.query_id, e.label AS n_label,
      |    COUNT(*) AS votes, MIN(k.rank) AS best_rank
      |  FROM knn k JOIN embeddings e ON k.neighbor_id = e.vec_id
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT v.query_id, v.n_label AS predicted, q.label AS true_label
      |  FROM (
      |    SELECT query_id, n_label,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY votes DESC, best_rank ASC, n_label ASC) AS rn
      |    FROM votes) v
      |  JOIN embeddings q ON v.query_id = q.vec_id
      |  WHERE v.rn = 1),
      |bt AS (
      |  SELECT true_label AS label, CAST(COUNT(*) AS BIGINT) AS support,
      |    CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tp
      |  FROM pred GROUP BY 1),
      |bp AS (
      |  SELECT predicted AS label, CAST(COUNT(*) AS BIGINT) AS n_predicted
      |  FROM pred GROUP BY 1),
      |m AS (
      |  SELECT bt.label, support, tp,
      |    COALESCE(n_predicted, 0) - tp AS fp,
      |    support - tp AS fn
      |  FROM bt LEFT JOIN bp ON bt.label = bp.label)
      |SELECT label, support, tp, fp, fn,
      |  CASE WHEN tp + fp = 0 THEN NULL
      |       ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
      |  CAST(tp AS DOUBLE) / support AS recall,
      |  CASE WHEN tp * 2 + fp + fn = 0 THEN NULL
      |       ELSE CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn) END AS f1
      |FROM m
      |ORDER BY label""".stripMargin

  // --- q184: hard-negative mining (contrastive-training pairs) --------------
  // The contrastive-learning data op (DPR/Contriever pipelines): for each
  // probe, the top-5 most similar vectors whose LABEL DIFFERS — maximally
  // confusable negatives, the examples that actually move a contrastive
  // loss. Same rounded-cosine arithmetic as q50 with a label-inequality
  // predicate inside the score join; ranks tie-break on neighbor id, so
  // the mined set is hash-exact. Shape: the brute-force scored join is
  // the audit baseline; at scale the candidate set would come from
  // ivfTopK with an over-fetch and the same label filter on top.
  def q184(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"label".as("q_label"),
        asDouble($"embedding").as("qe"))
    val cand = emb.select($"vec_id".as("neighbor_id"),
      $"label".as("n_label"), asDouble($"embedding").as("ne"))
    val scored = probes.join(cand,
        $"neighbor_id" =!= $"query_id" && $"n_label" =!= $"q_label")
      .select($"query_id", $"q_label", $"neighbor_id", $"n_label",
        round(dotProduct($"qe", $"ne") /
          (sqrt(dotProduct($"qe", $"qe")) * sqrt(dotProduct($"ne", $"ne"))), 6)
          .as("sim"))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"q_label", $"neighbor_id", $"n_label",
        $"rank", $"sim")
      .orderBy($"query_id", $"rank")
  }
  val q184Sql: String =
    s"""SELECT query_id, q_label, neighbor_id, n_label, rank, sim FROM (
      |  SELECT q.vec_id AS query_id, q.label AS q_label,
      |    c.vec_id AS neighbor_id, c.label AS n_label,
      |    ROUND(${cosSql("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")}, 6)
      |      AS sim,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |      ROUND(${cosSql("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")}, 6) DESC,
      |      c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c
      |    ON q.vec_id < 8 AND q.vec_id <> c.vec_id AND q.label <> c.label)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- q182: random-projection (JL) dim reduction + neighborhood eval -------
  // Achlioptas 2003-style database-friendly random projection: a ±1 sign
  // matrix S (16 × d) projects every embedding to 16 dims, and the eval
  // half measures what the projection does to neighborhoods —
  // agreement@5 between top-5 cosine in PROJECTED space and the full-dim
  // truth (q50), the exact-ratio shape of q181. Determinism without a
  // seeded RNG: S(j,k) = +1 iff the first hex digit of md5("j|k") is
  // even — both engines compute the identical md5 hex, and the sign rows
  // enter the Spark side as driver-built literal arrays (16·d values, a
  // few KB — the broadcast-constant analogue of a stored projection
  // matrix). Each projected coordinate is ONE rounded dot product (the
  // same codegen dot + round(6) the whole vector family rides, proven
  // bit-equal to DuckDB's list_inner_product), so projections, projected
  // cosines, ranks, and agreement are all hash-exact. At 100 TB the
  // projection is a d→16 map-side narrowing — 4×d/16 less data into
  // every downstream shuffle, the point of JL in a pipeline.
  def q182(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val dim = emb.select(size($"embedding")).head.getInt(0)
    val dims = 16
    def sign(j: Int, k: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j|$k".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if ("02468ace".contains(hex.charAt(0))) 1.0 else -1.0
    }
    val e = asDouble($"embedding")
    val proj = array((0 until dims).map { j =>
      round(dotProduct(e, lit((0 until dim).map(k => sign(j, k)).toArray)), 6)
    }: _*)
    val projected = emb.select($"vec_id", proj.as("p"))
    val probes = projected.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"p".as("qp"))
    val scored = probes.join(projected, $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(dotProduct($"qp", $"p") /
          (sqrt(dotProduct($"qp", $"qp")) * sqrt(dotProduct($"p", $"p"))), 6)
          .as("sim"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
      .orderBy($"sim".desc, $"neighbor_id")
    val projTop = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5).select($"query_id", $"neighbor_id")
    val bf = Similarity.bruteForceTopK(emb.filter($"vec_id" < 8), emb,
        k = 5, queryCountHint = 8)
      .select($"query_id", $"neighbor_id")
    val hits = bf.join(projTop, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    bf.groupBy($"query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select($"query_id", $"k", coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)).cast("double") / $"k").as("agreement"))
      .orderBy($"query_id")
  }
  val q182Sql: String =
    s"""WITH dd AS (SELECT len(embedding) AS d FROM embeddings LIMIT 1),
      |signs AS (
      |  SELECT j, list(CASE WHEN substring(md5(CAST(j AS VARCHAR) || '|' ||
      |        CAST(k AS VARCHAR)), 1, 1) IN
      |        ('0','2','4','6','8','a','c','e')
      |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END ORDER BY k)
      |    AS s
      |  FROM (SELECT unnest(range(0, 16)) AS j),
      |       (SELECT unnest(range(0, (SELECT d FROM dd))) AS k)
      |  GROUP BY j),
      |proj AS (
      |  SELECT vec_id,
      |    list(ROUND(list_inner_product(embedding::DOUBLE[], s), 6)
      |      ORDER BY j) AS p
      |  FROM embeddings CROSS JOIN signs
      |  GROUP BY vec_id),
      |pt AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.p", "c.p")}, 6) DESC, c.vec_id) AS rank
      |    FROM proj q JOIN proj c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |bf AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")}, 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |hits AS (
      |  SELECT bf.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM bf JOIN pt ON bf.query_id = pt.query_id
      |    AND bf.neighbor_id = pt.neighbor_id
      |  GROUP BY 1),
      |per AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM bf GROUP BY 1)
      |SELECT per.query_id, per.k, COALESCE(n_hits, 0) AS n_hits,
      |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / per.k AS agreement
      |FROM per LEFT JOIN hits ON per.query_id = hits.query_id
      |ORDER BY per.query_id""".stripMargin

  // --- q181: ANN recall@k under the oracle gate ------------------------------
  // Recall of the IVF probe path (q53) against the brute-force truth
  // (q50) — previously a spec-only assertion (SimilaritySpec), now a
  // hash-gated query: both search paths are deterministic (rounded
  // cosine, portable probe ranking), so per-query |IVF∩BF|/k and the
  // corpus mean Σ|∩|/(Q·k) are exact small-int ratios both engines
  // reproduce bit-for-bit. This is the eval loop every ANN deployment
  // needs: measure what the probed-cells approximation actually loses.
  def q181(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(probes, emb, k = 5, queryCountHint = 8)
      .select($"query_id", $"neighbor_id")
    val ivf = Similarity.ivfTopK(probes, emb, $"label", k = 5, nprobe = 3)
      .select($"query_id", $"neighbor_id")
    val hits = bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    val per = bf.groupBy($"query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select($"query_id", $"k",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)).cast("double") / $"k").as("recall"))
    val mean = per.agg(sum($"n_hits").as("sh"), sum($"k").as("sk"))
      .select(($"sh".cast("double") / $"sk").as("mean_recall"))
    per.crossJoin(broadcast(mean))
      .orderBy($"query_id")
  }
  val q181Sql: String =
    s"""WITH bf AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")}, 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |cent AS (
      |  SELECT label AS cell, pos,
      |    ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS cv
      |  FROM (SELECT label, unnest(range(0, len(embedding))) AS pos,
      |               unnest(embedding::DOUBLE[]) AS v
      |        FROM embeddings)
      |  GROUP BY label, pos),
      |centv AS (SELECT cell, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY cell),
      |pr AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.centroid")}, 6) DESC, c.cell) AS crank
      |    FROM embeddings q, centv c WHERE q.vec_id < 8)
      |  WHERE crank <= 3),
      |ivf AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT s.query_id, s.neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY s.query_id
      |        ORDER BY s.sim DESC, s.neighbor_id) AS rank
      |    FROM (
      |      SELECT p.query_id, e.vec_id AS neighbor_id,
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "e.embedding::DOUBLE[]")}, 6) AS sim
      |      FROM pr p
      |      JOIN embeddings e ON e.label = p.cell
      |      JOIN embeddings q ON q.vec_id = p.query_id
      |      WHERE e.vec_id <> p.query_id) s)
      |  WHERE rank <= 5),
      |hits AS (
      |  SELECT bf.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM bf JOIN ivf ON bf.query_id = ivf.query_id
      |    AND bf.neighbor_id = ivf.neighbor_id
      |  GROUP BY 1),
      |per AS (
      |  SELECT bf.query_id, CAST(COUNT(*) AS BIGINT) AS k
      |  FROM bf GROUP BY 1),
      |j AS (
      |  SELECT per.query_id, per.k, COALESCE(n_hits, 0) AS n_hits,
      |    CAST(COALESCE(n_hits, 0) AS DOUBLE) / per.k AS recall
      |  FROM per LEFT JOIN hits ON per.query_id = hits.query_id),
      |m AS (
      |  SELECT CAST(SUM(n_hits) AS DOUBLE) / SUM(k) AS mean_recall FROM j)
      |SELECT query_id, k, n_hits, recall, mean_recall
      |FROM j CROSS JOIN m
      |ORDER BY query_id""".stripMargin

  // --- q309: recall@k of the MATERIALIZED IVF-PQ probe --------------------
  // q181 grades the composed IVF arm; this grades the index a deployment
  // actually serves from: the staged, cell-partitioned IVF-PQ layout
  // (q168's VectorIndex.probeTopK — partition-pruned scan, ADC over
  // codes) against the exact brute-force top-5 (q50's arm). This is the
  // retrieval-quality gate the index family was missing: q214/q215 audit
  // the index's SHAPE and q277 decides WHEN to retrain, but only a
  // recall@k number says what the quantization+probe approximation costs
  // — and whether a q277 "retrain" verdict actually mattered. Both arms
  // and the probe set (vec_id < 8) are deterministic, so per-query
  // |PQ∩BF|/k and the micro-averaged mean are exact small-int ratios;
  // the oracle restates the staged index from scratch (q141's CTE chain)
  // — a stale or corrupt staged artifact hash-misses.
  def q309(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(queries, emb, k = 5, queryCountHint = 8)
      .select($"query_id", $"neighbor_id")
    val pq = graft.sources.VectorIndex.probeTopK(s, vecIdx(s, d).toString,
        queries, m = 4, k = 5, nprobe = 3)
      .select($"query_id", $"neighbor_id")
    val hits = bf.join(pq, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    val per = bf.groupBy($"query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select($"query_id", $"k",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)).cast("double") / $"k").as("recall"))
    val mean = per.agg(sum($"n_hits").as("sh"), sum($"k").as("sk"))
      .select(($"sh".cast("double") / $"sk").as("mean_recall"))
    per.crossJoin(broadcast(mean))
      .orderBy($"query_id")
  }
  val q309Sql: String =
    s"""WITH emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e, len(embedding) AS d FROM embeddings
      |), kc0 AS (SELECT vec_id AS cell, e AS c FROM emb ORDER BY vec_id LIMIT 8),
      |ka0 AS (${kmAssign("kc0")}),
      |kc1 AS (${kmUpdate("ka0")}),
      |cells AS (SELECT vec_id, cell FROM (${kmAssign("kc1")}) t),
      |$pqCtes,
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ${sqd("q.e", "c.c")} ASC, c.cell ASC) AS crank
      |    FROM emb q CROSS JOIN kc1 c WHERE q.vec_id < 8)
      |  WHERE crank <= 3
      |), adist AS (
      |  SELECT p.query_id, k.vec_id AS neighbor_id,
      |    CAST(SUM(CAST(l.dist AS DECIMAL(18,6))) AS DOUBLE) AS adist
      |  FROM codes k
      |  JOIN cells ce ON k.vec_id = ce.vec_id
      |  JOIN probes p ON ce.cell = p.cell
      |  JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub AND l.cw = k.cw
      |  WHERE k.vec_id <> p.query_id
      |  GROUP BY 1, 2
      |), pq AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY adist ASC, neighbor_id) AS rank
      |    FROM adist) WHERE rank <= 5
      |), bf AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")}, 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |hits AS (
      |  SELECT bf.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM bf JOIN pq ON bf.query_id = pq.query_id
      |    AND bf.neighbor_id = pq.neighbor_id
      |  GROUP BY 1),
      |per AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM bf GROUP BY 1),
      |j AS (
      |  SELECT per.query_id, per.k, COALESCE(n_hits, 0) AS n_hits,
      |    CAST(COALESCE(n_hits, 0) AS DOUBLE) / per.k AS recall
      |  FROM per LEFT JOIN hits ON per.query_id = hits.query_id),
      |m AS (SELECT CAST(SUM(n_hits) AS DOUBLE) / SUM(k) AS mean_recall FROM j)
      |SELECT query_id, k, n_hits, recall, mean_recall
      |FROM j CROSS JOIN m
      |ORDER BY query_id""".stripMargin

  // --- q314: recall-vs-nprobe tuning curve of the materialized probe --------
  // q309's single recall number, swept across the knob an operator
  // actually turns: nprobe ∈ {1,2,3} against the same staged IVF-PQ
  // layout. Each point is the same partition-pruned probe with a
  // different pruning budget — nprobe/kCells of the index's files read —
  // and the curve (micro-averaged recall@5 vs probes) is THE artifact
  // that prices recall against scan cost when sizing a deployment. One
  // oracle CTE chain carries nprobe as a key through probes→adist→top-5,
  // so all three points are hash-gated at once.
  def q314(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(queries, emb, k = 5, queryCountHint = 8)
      .select($"query_id", $"neighbor_id").persistTracked() // 3 curve points
    val idx = vecIdx(s, d).toString
    val points = Seq(1, 2, 3).map { np =>
      graft.sources.VectorIndex.probeTopK(s, idx, queries, m = 4, k = 5,
          nprobe = np)
        .select(lit(np).as("nprobe"), $"query_id", $"neighbor_id")
    }.reduce(_ unionByName _)
    val hits = bf.join(points, Seq("query_id", "neighbor_id"))
      .groupBy($"nprobe").agg(count(lit(1)).as("n_hits"))
    val k = bf.agg(count(lit(1)).as("sum_k"))
    Seq(1, 2, 3).toDF("nprobe") // the axis is literal — never re-probe for it
      .crossJoin(broadcast(k))
      .join(hits, Seq("nprobe"), "left")
      .select($"nprobe", $"sum_k",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)).cast("double") / $"sum_k").as("recall"))
      .orderBy($"nprobe")
  }
  val q314Sql: String =
    s"""WITH emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e, len(embedding) AS d FROM embeddings
      |), kc0 AS (SELECT vec_id AS cell, e AS c FROM emb ORDER BY vec_id LIMIT 8),
      |ka0 AS (${kmAssign("kc0")}),
      |kc1 AS (${kmUpdate("ka0")}),
      |cells AS (SELECT vec_id, cell FROM (${kmAssign("kc1")}) t),
      |$pqCtes,
      |probes AS (
      |  SELECT np, query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ${sqd("q.e", "c.c")} ASC, c.cell ASC) AS crank
      |    FROM emb q CROSS JOIN kc1 c WHERE q.vec_id < 8),
      |    (SELECT unnest([1, 2, 3]) AS np)
      |  WHERE crank <= np
      |), adist AS (
      |  SELECT p.np, p.query_id, k.vec_id AS neighbor_id,
      |    CAST(SUM(CAST(l.dist AS DECIMAL(18,6))) AS DOUBLE) AS adist
      |  FROM codes k
      |  JOIN cells ce ON k.vec_id = ce.vec_id
      |  JOIN probes p ON ce.cell = p.cell
      |  JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub AND l.cw = k.cw
      |  WHERE k.vec_id <> p.query_id
      |  GROUP BY 1, 2, 3
      |), pq AS (
      |  SELECT np, query_id, neighbor_id FROM (
      |    SELECT np, query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY np, query_id
      |        ORDER BY adist ASC, neighbor_id) AS rank
      |    FROM adist) WHERE rank <= 5
      |), bf AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")}, 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |hits AS (
      |  SELECT np AS nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM bf JOIN pq ON bf.query_id = pq.query_id
      |    AND bf.neighbor_id = pq.neighbor_id
      |  GROUP BY 1),
      |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS sum_k FROM bf)
      |SELECT np AS nprobe, sum_k, COALESCE(n_hits, 0) AS n_hits,
      |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / sum_k AS recall
      |FROM (SELECT unnest([1, 2, 3]) AS np)
      |CROSS JOIN k
      |LEFT JOIN hits ON np = hits.nprobe
      |ORDER BY np""".stripMargin

  // --- q207: graded ranking quality (NDCG@5 of the IVF arm) -----------------
  // q181 measures SET recall; this measures ORDER quality: NDCG@5 of the
  // IVF ranking with graded relevance from the exact ranking (rel =
  // 6 − exact rank for true top-5 neighbors, 0 otherwise). Per-position
  // discounted gains rel/log2(pos+1) are snapped to 4 decimals BEFORE
  // summation (log2 may differ 1 ulp between libm and java.lang.Math —
  // the q39 rule), so DCG and IDCG are exact 1e-4-grid integers and
  // every NDCG is one exact small-int division; the corpus-level figure
  // is the micro-average Σdcg4/Σidcg4 (exact ints — q181's mean_recall
  // shape), never a sum of per-query doubles. The heavy stages are the
  // same brute-force baseline + IVF probe q181 already audits.
  def q207(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(probes, emb, k = 5, queryCountHint = 8)
      .select($"query_id", $"neighbor_id", $"rank".as("bf_rank"))
    val ivf = Similarity.ivfTopK(probes, emb, $"label", k = 5, nprobe = 3)
      .select($"query_id", $"neighbor_id", $"rank".as("pos"))
    val terms = ivf.join(bf, Seq("query_id", "neighbor_id"), "left")
      .withColumn("rel", coalesce(lit(6) - $"bf_rank", lit(0)))
      .withColumn("dg4",
        round($"rel" / log2($"pos" + 1) * lit(1e4)).cast("long"))
    val ideal = bf
      .withColumn("ig4",
        round((lit(6) - $"bf_rank") / log2($"bf_rank" + 1) * lit(1e4)).cast("long"))
      .groupBy($"query_id").agg(sum($"ig4").as("idcg4"))
    val per = terms.groupBy($"query_id").agg(sum($"dg4").as("dcg4"))
      .join(ideal, "query_id")
      .select($"query_id", $"dcg4", $"idcg4",
        ($"dcg4".cast("double") / $"idcg4").as("ndcg"))
    val micro = per.agg(sum($"dcg4").as("sd"), sum($"idcg4").as("si"))
      .select(($"sd".cast("double") / $"si").as("micro_ndcg"))
    per.crossJoin(broadcast(micro)).orderBy($"query_id")
  }
  val q207Sql: String =
    s"""WITH bf AS (
      |  SELECT query_id, neighbor_id, rank AS bf_rank FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")}, 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |cent AS (
      |  SELECT label AS cell, pos,
      |    ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS cv
      |  FROM (SELECT label, unnest(range(0, len(embedding))) AS pos,
      |               unnest(embedding::DOUBLE[]) AS v
      |        FROM embeddings)
      |  GROUP BY label, pos),
      |centv AS (SELECT cell, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY cell),
      |pr AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.centroid")}, 6) DESC, c.cell) AS crank
      |    FROM embeddings q, centv c WHERE q.vec_id < 8)
      |  WHERE crank <= 3),
      |ivf AS (
      |  SELECT query_id, neighbor_id, rank AS pos FROM (
      |    SELECT s.query_id, s.neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY s.query_id
      |        ORDER BY s.sim DESC, s.neighbor_id) AS rank
      |    FROM (
      |      SELECT p.query_id, e.vec_id AS neighbor_id,
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "e.embedding::DOUBLE[]")}, 6) AS sim
      |      FROM pr p
      |      JOIN embeddings e ON e.label = p.cell
      |      JOIN embeddings q ON q.vec_id = p.query_id
      |      WHERE e.vec_id <> p.query_id) s)
      |  WHERE rank <= 5),
      |terms AS (
      |  SELECT i.query_id,
      |    CAST(round(COALESCE(6 - b.bf_rank, 0) / log2(i.pos + 1) * 1e4)
      |      AS BIGINT) AS dg4
      |  FROM ivf i LEFT JOIN bf b
      |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id),
      |ideal AS (
      |  SELECT query_id,
      |    CAST(SUM(CAST(round((6 - bf_rank) / log2(bf_rank + 1) * 1e4)
      |      AS BIGINT)) AS BIGINT) AS idcg4
      |  FROM bf GROUP BY query_id),
      |per AS (
      |  SELECT t.query_id, CAST(SUM(t.dg4) AS BIGINT) AS dcg4, i.idcg4
      |  FROM terms t JOIN ideal i ON i.query_id = t.query_id
      |  GROUP BY t.query_id, i.idcg4),
      |m AS (SELECT CAST(SUM(dcg4) AS DOUBLE) / SUM(idcg4) AS micro_ndcg FROM per)
      |SELECT query_id, dcg4, idcg4,
      |  CAST(dcg4 AS DOUBLE) / idcg4 AS ndcg, micro_ndcg
      |FROM per CROSS JOIN m
      |ORDER BY query_id""".stripMargin

  // --- q208: one-vs-rest ranking AUC per label (centroid detector) ----------
  // The eval metric the quality-classifier family still lacked: for each
  // label L, treat "rounded squared L2 to the label-L centroid" as a
  // detector score and compute its Mann-Whitney AUC against the true
  // labels — P(random positive ranks above random negative), ties at
  // averaged ranks. Everything is exact: distances are the rounded-6
  // portable kind, ranks come VALUE-GROUPED (per distinct distance:
  // strictly-better count from an ordered prefix over the value table —
  // the q49/q192 shape, so the window runs over value cardinality, not
  // rows; the sliced-prefix form is the documented 100 TB swap), and
  // 2·avg_rank = 2·rank_min + ties − 1 keeps the tie correction on the
  // integer grid. AUC = (U2 − n_pos·(n_pos+1)) / (2·n_pos·n_neg) with
  // decimal(38,0) products and one 1e-9 snap (n² crosses 2^53 at corpus
  // scale — the q154 rule).
  def q208(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val big = "decimal(38,0)"
    def grid9(c: org.apache.spark.sql.Column) =
      round(c * 1e9).cast("long").cast("double") / 1e9
    val emb = Tables.embeddings(s, d).select($"vec_id", $"label",
      graft.functions.VectorFunctions.asDouble($"embedding").as("e"))
    val cent = emb
      .select($"label".as("cl"), posexplode($"e").as(Seq("pos", "v")))
      .groupBy($"cl", $"pos")
      .agg(round(sum($"v".cast("decimal(18,9)")).cast("double") / count(lit(1)), 6)
        .as("cv"))
      .groupBy($"cl")
      .agg(array_sort(collect_list(struct($"pos", $"cv")))
        .getField("cv").as("centroid"))
    val scored = emb.crossJoin(broadcast(cent))
      .select($"cl", $"label",
        graft.operators.Similarity.sqDistRounded($"e", $"centroid").as("d0"))
    val byVal = scored.groupBy($"cl", $"d0")
      .agg(count(lit(1)).as("nv"),
        sum(when($"label" === $"cl", 1L).otherwise(0L)).as("npv"))
    val wv = Window.partitionBy($"cl").orderBy($"d0".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byVal
      .withColumn("cgt", coalesce(sum($"nv").over(wv), lit(0L)))
    val sums = ranked
      .withColumn("u2c", $"npv" * (lit(2) * ($"cgt" + 1) + $"nv" - 1))
      .groupBy($"cl")
      .agg(sum($"u2c").as("u2"), sum($"npv").as("np"), sum($"nv").as("n"))
      .withColumn("nn", $"n" - $"np")
    sums.select($"cl".as("label"), $"np".as("n_pos"), $"nn".as("n_neg"),
        grid9(($"u2".cast(big) - $"np".cast(big) * ($"np" + 1).cast(big))
          .cast("double") /
          (lit(2).cast(big) * $"np".cast(big) * $"nn".cast(big)).cast("double"))
          .as("auc"))
      .orderBy($"label")
  }
  val q208Sql: String =
    s"""WITH emb AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      |cent AS (
      |  SELECT label AS cl, pos,
      |    ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS cv
      |  FROM (SELECT label, unnest(range(0, len(e))) AS pos, unnest(e) AS v
      |        FROM emb)
      |  GROUP BY label, pos),
      |centv AS (SELECT cl, list(cv ORDER BY pos) AS c FROM cent GROUP BY cl),
      |scored AS (
      |  SELECT cv.cl, x.label, ${sqd("x.e", "cv.c")} AS d0
      |  FROM emb x CROSS JOIN centv cv),
      |byval AS (
      |  SELECT cl, d0, CAST(COUNT(*) AS BIGINT) AS nv,
      |    CAST(SUM(CASE WHEN label = cl THEN 1 ELSE 0 END) AS BIGINT) AS npv
      |  FROM scored GROUP BY cl, d0),
      |ranked AS (
      |  SELECT cl, nv, npv,
      |    COALESCE(SUM(nv) OVER (PARTITION BY cl ORDER BY d0 DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cgt
      |  FROM byval),
      |sums AS (
      |  SELECT cl, CAST(SUM(npv * (2 * (cgt + 1) + nv - 1)) AS HUGEINT) AS u2,
      |    CAST(SUM(npv) AS BIGINT) AS np, CAST(SUM(nv) AS BIGINT) AS n
      |  FROM ranked GROUP BY cl)
      |SELECT cl AS label, np AS n_pos, CAST(n - np AS BIGINT) AS n_neg,
      |  CAST(CAST(round(CAST(u2 - CAST(np AS HUGEINT) * (np + 1) AS DOUBLE)
      |    / CAST(CAST(2 AS HUGEINT) * np * (n - np) AS DOUBLE) * 1e9) AS BIGINT)
      |    AS DOUBLE) / 1e9 AS auc
      |FROM sums
      |ORDER BY label""".stripMargin

  // --- q180: chance-corrected agreement (Cohen's kappa) ---------------------
  // The aggregate companion to q178's per-class table: observed accuracy
  // po = Σ tp / N, chance agreement pe = Σ_c (true_c · pred_c) / N², and
  // κ = (po − pe)/(1 − pe) — the standard chance-corrected agreement
  // between the kNN predictions and the true labels. All inputs are
  // exact integers; po and pe are single divisions, and κ is computed
  // from INTEGERS in one division — (N·Σtp − Σ(true_c·pred_c)) /
  // (N² − Σ(true_c·pred_c)) — rather than chaining (po−pe)/(1−pe)
  // through intermediate doubles. Products ≤ N² ≪ 2^53 at the test SFs.
  // Degenerate pe = 1 (all mass in one cell) guards NULL on both sides.
  def q180(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter($"vec_id" % 10 === 0)
    val knn = Similarity.bruteForceTopK(probes, emb, k = 5)
    val nbrLab = emb.select($"vec_id".as("neighbor_id"), $"label".as("n_label"))
    val votes = knn.join(nbrLab, "neighbor_id")
      .groupBy($"query_id", $"n_label")
      .agg(count(lit(1)).as("votes"), min($"rank").as("best_rank"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"votes".desc, $"best_rank".asc, $"n_label".asc)
    val pred = votes.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"query_id", $"n_label".as("predicted"))
      .join(probes.select($"vec_id".as("query_id"), $"label".as("true_label")),
        "query_id")
    val byTrue = pred.groupBy($"true_label".as("label"))
      .agg(count(lit(1)).as("n_true"))
    val byPred = pred.groupBy($"predicted".as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val chance = byTrue.join(byPred, Seq("label"), "full_outer")
      .agg(coalesce(sum(coalesce($"n_true", lit(0L)) *
        coalesce($"n_pred", lit(0L))), lit(0L)).as("s_chance"))
    val agg = pred.agg(count(lit(1)).as("n"),
      sum(when($"predicted" === $"true_label", 1L).otherwise(0L)).as("s_tp"))
    agg.crossJoin(broadcast(chance))
      .select($"n", $"s_tp",
        ($"s_tp".cast("double") / $"n").as("accuracy"),
        ($"s_chance".cast("double") / ($"n" * $"n")).as("chance_agreement"),
        when($"n" * $"n" - $"s_chance" === 0, lit(null).cast("double"))
          .otherwise(($"n" * $"s_tp" - $"s_chance").cast("double") /
            ($"n" * $"n" - $"s_chance")).as("kappa"))
  }
  val q180Sql: String =
    """WITH knn AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
      |          / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
      |             * sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c
      |      ON q.vec_id % 10 = 0 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |votes AS (
      |  SELECT k.query_id, e.label AS n_label,
      |    COUNT(*) AS votes, MIN(k.rank) AS best_rank
      |  FROM knn k JOIN embeddings e ON k.neighbor_id = e.vec_id
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT v.query_id, v.n_label AS predicted, q.label AS true_label
      |  FROM (
      |    SELECT query_id, n_label,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY votes DESC, best_rank ASC, n_label ASC) AS rn
      |    FROM votes) v
      |  JOIN embeddings q ON v.query_id = q.vec_id
      |  WHERE v.rn = 1),
      |bt AS (SELECT true_label AS label, CAST(COUNT(*) AS BIGINT) AS n_true
      |       FROM pred GROUP BY 1),
      |bp AS (SELECT predicted AS label, CAST(COUNT(*) AS BIGINT) AS n_pred
      |       FROM pred GROUP BY 1),
      |ch AS (
      |  SELECT CAST(COALESCE(SUM(COALESCE(n_true, 0) * COALESCE(n_pred, 0)), 0)
      |    AS BIGINT) AS s_chance
      |  FROM bt FULL JOIN bp USING (label)),
      |ag AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
      |      AS BIGINT) AS s_tp
      |  FROM pred)
      |SELECT n, s_tp,
      |  CAST(s_tp AS DOUBLE) / n AS accuracy,
      |  CAST(s_chance AS DOUBLE) / (n * n) AS chance_agreement,
      |  CASE WHEN n * n - s_chance = 0 THEN NULL
      |       ELSE CAST(n * s_tp - s_chance AS DOUBLE) / (n * n - s_chance)
      |  END AS kappa
      |FROM ag CROSS JOIN ch""".stripMargin

  // --- q176: hybrid retrieval via reciprocal-rank fusion --------------------
  // The retrieval-stack staple (Cormack et al. 2009): fuse a LEXICAL
  // ranking (q120's grid-snapped Okapi BM25 for a fixed term set) with a
  // VECTOR ranking (q50's rounded-cosine brute-force top-k for one query
  // embedding) by rrf(d) = Σ_systems 1/(60 + rank_sys(d)) over each
  // system's top-50 list. Documents and embeddings align by id (the
  // corpus construction), so the fusion is a full outer join of two
  // 50-row lists. Exactness: each 1/(60+r) is a single IEEE division of
  // exact small ints, and the fusion is ONE fixed two-term sum — no
  // merge-order ambiguity; both input rankings are already
  // engine-portable (grid-snapped BM25 e9 integers, rounded cosine).
  // Scale shape: each arm ends in TakeOrderedAndProject(50) BEFORE any
  // ranking window touches it — the global row_number runs on a bounded
  // 50-row slice (the q174/q132 pre-limit rule), never on the corpus.
  def q176(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val terms = Seq("spark", "join", "window")
    // lexical arm — q120's scoring verbatim, cut to 50 THEN ranked
    val tokRows = Tables.documents(s, d)
      .select($"doc_id", explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
    val dl = tokRows.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("tot_dl"))
    val tf = tokRows.filter($"tok".isin(terms: _*))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val k1 = lit(1.5); val b = lit(0.75)
    val dlRatio = ($"dl" * $"n_docs").cast("double") / $"tot_dl".cast("double")
    val idf = log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0)
    val contrib = idf * ($"tf" * (k1 + 1.0)) /
      ($"tf" + k1 * (lit(1.0) - b + b * dlRatio))
    val lexTop = tf.join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("e9", round(contrib * lit(1e9)).cast("long"))
      .groupBy($"doc_id").agg(sum($"e9").as("score_e9"))
      .orderBy($"score_e9".desc, $"doc_id")
      .limit(50)
    val lex = lexTop.withColumn("rank_lex", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy($"score_e9".desc, $"doc_id")))
      .select($"doc_id", $"rank_lex")
    // vector arm — q50's rounded-cosine brute force for query vec 0
    val emb = Tables.embeddings(s, d)
    val vec = Similarity.bruteForceTopK(emb.filter($"vec_id" === 0), emb,
        k = 50, queryCountHint = 1)
      .select($"neighbor_id".as("doc_id"), $"rank".as("rank_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"rank_lex", $"rank_vec",
        (coalesce(lit(1.0) / (lit(60) + $"rank_lex"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + $"rank_vec"), lit(0.0))).as("rrf"))
      .orderBy($"rrf".desc, $"doc_id")
      .limit(20)
  }
  val q176Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
      |  FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      |stats AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl FROM dl),
      |tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      |  WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |    CAST(round(
      |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |        * (tf * (1.5 + 1.0))
      |        / (tf + 1.5 * (1.0 - 0.75 + 0.75 *
      |            (CAST(dl.dl * n_docs AS DOUBLE) / CAST(tot_dl AS DOUBLE))))
      |      * 1e9) AS BIGINT) AS e9
      |  FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN stats),
      |lex_top AS (
      |  SELECT doc_id, CAST(SUM(e9) AS BIGINT) AS score_e9
      |  FROM scored GROUP BY doc_id
      |  ORDER BY score_e9 DESC, doc_id LIMIT 50),
      |lex AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY score_e9 DESC, doc_id) AS rank_lex
      |  FROM lex_top),
      |vec AS (
      |  SELECT neighbor_id AS doc_id, rank AS rank_vec FROM (
      |    SELECT c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (ORDER BY
      |        ROUND(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
      |          / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
      |             * sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c
      |      ON q.vec_id = 0 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 50)
      |SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
      |  rank_lex, rank_vec,
      |  COALESCE(CAST(1 AS DOUBLE) / (60 + rank_lex), CAST(0 AS DOUBLE))
      |    + COALESCE(CAST(1 AS DOUBLE) / (60 + rank_vec), CAST(0 AS DOUBLE))
      |    AS rrf
      |FROM lex FULL JOIN vec ON lex.doc_id = vec.doc_id
      |ORDER BY rrf DESC, doc_id
      |LIMIT 20""".stripMargin

  // --- q138: greedy k-center coreset (Gonzalez farthest-point sampling) ---
  // Diversity-driven data selection: 8 centers chosen by iterated
  // farthest-point argmax, reported with the coverage-radius curve. The
  // oracle UNROLLS the same greedy loop as 7 chained CTE steps — portable
  // rounded distances + (d desc, vec_id) argmax tie-break make the whole
  // selection order hash-checkable, the q122-trainer convention applied to
  // an argmax recursion.
  def q138(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Similarity.kCenterCoreset(Tables.embeddings(s, d), k = 8)
      .orderBy($"ord")
  }
  val q138Sql: String = {
    val steps = (1 until 8).map { i =>
      s"""d$i AS (
         |  SELECT t.vec_id, MIN(${sqd("t.e", "ce.ce")}) AS d
         |  FROM emb t CROSS JOIN (
         |    SELECT m.e AS ce FROM emb m JOIN c${i - 1} c ON m.vec_id = c.vec_id) ce
         |  GROUP BY t.vec_id
         |), sel$i AS (
         |  SELECT $i AS ord, vec_id, d AS radius
         |  FROM d$i ORDER BY d DESC, vec_id LIMIT 1
         |), c$i AS (
         |  SELECT vec_id FROM c${i - 1} UNION ALL SELECT vec_id FROM sel$i
         |)""".stripMargin
    }.mkString(",\n")
    val sels = (0 until 8).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    s"""WITH emb AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |), sel0 AS (
       |  SELECT 0 AS ord, vec_id, CAST(0.0 AS DOUBLE) AS radius
       |  FROM emb ORDER BY vec_id LIMIT 1
       |), c0 AS (SELECT vec_id FROM sel0),
       |$steps
       |SELECT ord, vec_id, radius FROM ($sels) ORDER BY ord""".stripMargin
  }

  // --- q271: PCA top component (unrolled power iteration) -----------------------
  // The dimensionality-reduction workhorse the embedding family was
  // missing: the top principal component of the embedding matrix by ten
  // unrolled von Mises power iterations (Mises & Pollaczek-Geiringer
  // 1929) — the q143 PageRank discipline applied to a dense 64×64
  // covariance. Exactness end-to-end on integer grids:
  //  - elements snap to the e9 grid via the q52 decimal(18,9) convention;
  //    per-dimension means are floored e9 integers (documented);
  //  - covariance entries are decimal(38,0) sums of exact products,
  //    divided by n ON THE GRID (integral divide) so entries stay ~1e19
  //    and the matvec Σ m·v fits decimal(38,0) at ANY corpus size;
  //  - each iteration renormalizes by MAX-ABS (an exact decimal max),
  //    not the L2 norm — max is order-invariant where a double Σ of
  //    squares is not, and von Mises converges under any rescaling; the
  //    one double division per iteration is a fixed two-cast IEEE chain
  //    snapped back to the e9 grid;
  //  - the eigenvalue estimate is the ratio of the last two max-abs
  //    values (the power-iteration growth factor), 1e-6-snapped.
  // Shape: the covariance build is the only corpus-sized work — a
  // per-vector d² fan-out with map-side partial aggregation down to 4096
  // (i,j) cells (inherent to covariance; the shuffle carries cells, not
  // pairs). The ten matvecs then run ON THE DRIVER over the collected
  // d×d matrix: driver state is O(d²) — bounded by the embedding
  // dimension, independent of corpus size — which is exactly how
  // distributed PCA is implemented in practice (MLlib's RowMatrix
  // collects the Gramian and eigensolves driver-side). The previous
  // in-plan formulation paid ~5 Spark jobs per iteration (broadcast +
  // 2-stage agg + localCheckpoint) to multiply a 64×64 matrix by a
  // 64-vector; the arithmetic here is the same exact integer/IEEE chain
  // (BigInt products and sums, the identical decimal→double→round(…)
  // snapping), so the output is bit-identical to the distributed form —
  // the round-15 oracle gate re-proved it at all three SFs.
  // Output: 64 loadings + the growth factor; sign is fixed by the
  // all-ones start (deterministic, documented — eigenvectors are
  // sign-ambiguous).
  def q271(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val big = "decimal(38,0)"
    val x = Tables.embeddings(s, d)
      .select($"vec_id", posexplode(asDouble($"embedding")).as(Seq("i", "v")))
      .select($"vec_id", $"i",
        ($"v".cast("decimal(18,9)") * 1000000000L).cast("long").as("xe"))
    val mu = x.groupBy($"i").agg(expr("sum(xe) div count(1)").as("mu"))
    val c = x.join(broadcast(mu), "i")
      .select($"vec_id", $"i", ($"xe" - $"mu").as("ce"))
      .persistTracked() // both sides of the covariance self-join
    val cov = c.as("a").join(c.as("b"), $"a.vec_id" === $"b.vec_id")
      .groupBy($"a.i".as("i"), $"b.i".as("j"))
      .agg(expr(s"cast(sum(cast(a.ce as $big) * cast(b.ce as $big))" +
        " div count(1) as bigint)").as("m"))
      .persistTracked() // reread by the bounded driver collect below
    // Bounded driver collect: d² rows (64×64 = 4096 here; 1M at d=1024 —
    // a few MB), never corpus-sized. NOTE this makes q271 eager at
    // DataFrame-CONSTRUCTION time — plan-dump tooling (QTime -plan) runs
    // the covariance job; the returned frame is the driver-computed
    // LocalTableScan. A null covariance cell would mean the decimal(38,0)
    // sum overflowed (silently wrong to coerce to 0) — fail loudly instead.
    val m = cov.collect().map { r =>
      if (r.isNullAt(2)) throw new IllegalStateException(
        s"q271: covariance cell (${r.getInt(0)},${r.getInt(1)}) is null — " +
          "decimal(38,0) sum overflow; inputs exceed the documented grid")
      (r.getInt(0), r.getInt(1)) -> BigInt(r.getLong(2))
    }.toMap
    val dims = m.keys.map(_._1).toSeq.distinct.sorted
    // Decimal(38,0).cast("double") is BigDecimal.doubleValue; round(x) on
    // a double is BigDecimal.valueOf(x).setScale(0, HALF_UP) — both
    // restated verbatim so each driver step is bit-identical to the
    // in-plan expression chain it replaces.
    def toD(b: BigInt): Double = new java.math.BigDecimal(b.bigInteger).doubleValue
    def roundHalfUp(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue
    // explicit schema: pos non-null (a cast of a group key), the doubles
    // nullable — byte-identical to the schema the in-plan form produced
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("loading",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("growth_factor",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    // empty embeddings table → empty result (the in-plan form's behavior),
    // not a .max-over-empty crash in the iteration below
    if (dims.isEmpty)
      return s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)
    var ve: Map[Int, Long] = dims.map(_ -> 1000000000L).toMap
    var maLast = BigInt(0); var maPrev = BigInt(0)
    for (_ <- 1 to 10) {
      // w = M·v: exact integer products and sums (the decimal(38,0) agg)
      val raw: Map[Int, BigInt] = dims.map(i =>
        i -> dims.map(j => m(i -> j) * BigInt(ve(j))).sum).toMap
      val ma = raw.valuesIterator.map(_.abs).max // exact max-abs
      ve = raw.map { case (i, r) =>
        i -> roundHalfUp(toD(r) / toD(ma) * 1e9).toLong }
      maPrev = maLast; maLast = ma
    }
    val growth = roundHalfUp(toD(maLast) / toD(maPrev) * 1e6).toLong.toDouble / 1e6
    val rows = dims.sorted.map(j => org.apache.spark.sql.Row(
      j.toLong, ve(j).toDouble / 1e9, growth))
    s.createDataFrame(new java.util.ArrayList(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }
  val q271Sql: String = {
    val steps = (1 to 10).map { t =>
      s"""r$t AS MATERIALIZED (
         |  SELECT cov.i, SUM(CAST(m AS HUGEINT) * ve) AS raw
         |  FROM cov JOIN v${t - 1} ON v${t - 1}.j = cov.j GROUP BY 1),
         |m$t AS MATERIALIZED (SELECT MAX(ABS(raw)) AS ma FROM r$t),
         |v$t AS MATERIALIZED (
         |  SELECT i AS j, CAST(ROUND(CAST(raw AS DOUBLE)
         |    / CAST(ma AS DOUBLE) * 1e9) AS BIGINT) AS ve
         |  FROM r$t, m$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS (
       |  SELECT vec_id, i,
       |    CAST(CAST(v AS DECIMAL(18,9)) * 1000000000 AS BIGINT) AS xe
       |  FROM (
       |    SELECT vec_id, unnest(range(0, len(embedding))) AS i,
       |      unnest(embedding::DOUBLE[]) AS v
       |    FROM embeddings)),
       |mu AS (SELECT i, CAST(SUM(xe) // COUNT(*) AS BIGINT) AS mu
       |       FROM x GROUP BY 1),
       |c AS MATERIALIZED (SELECT vec_id, x.i, xe - mu AS ce FROM x JOIN mu USING (i)),
       |cov AS MATERIALIZED (
       |  SELECT a.i, b.i AS j,
       |    CAST(SUM(CAST(a.ce AS HUGEINT) * b.ce) // COUNT(*) AS BIGINT)
       |      AS m
       |  FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
       |v0 AS (SELECT i AS j, CAST(1000000000 AS BIGINT) AS ve FROM mu),
       |$steps
       |SELECT v10.j AS pos, CAST(ve AS DOUBLE) / 1e9 AS loading,
       |  CAST(CAST(ROUND(CAST(m10.ma AS DOUBLE) / CAST(m9.ma AS DOUBLE)
       |    * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS growth_factor
       |FROM v10, m10, m9
       |ORDER BY pos""".stripMargin
  }

  // --- q320: Matryoshka dimension-truncation recall curve -------------------
  // The memory/recall trade every embedding deployment prices alongside
  // q57's int8 quantization and q314's nprobe curve: search over only the
  // FIRST dc dims (dc ∈ {8,16,32} of 64 — an MRL-style prefix truncation
  // that cuts vector memory 8×/4×/2×) vs the exact full-dim top-5.
  // Truncation is slice() before the same audited bruteForceTopK arm, so
  // every curve point is the standard broadcast-probe plan over narrower
  // vectors; recall is micro-averaged exact small-int ratios (q314's
  // shape). float→double casts commute with slicing, so the oracle's
  // list_slice restatement is bit-identical.
  def q320(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(queries, emb, k = 5, queryCountHint = 8)
      .select($"query_id", $"neighbor_id").persistTracked() // 3 curve points
    val points = Seq(8, 16, 32).map { dc =>
      Similarity.bruteForceTopK(
          queries.select($"vec_id", slice($"embedding", 1, dc).as("embedding")),
          emb.select($"vec_id", slice($"embedding", 1, dc).as("embedding")),
          k = 5, queryCountHint = 8)
        .select(lit(dc).as("dim"), $"query_id", $"neighbor_id")
    }.reduce(_ unionByName _)
    val hits = bf.join(points, Seq("query_id", "neighbor_id"))
      .groupBy($"dim").agg(count(lit(1)).as("n_hits"))
    val k = bf.agg(count(lit(1)).as("sum_k"))
    Seq(8, 16, 32).toDF("dim") // literal axis — never re-search for it
      .crossJoin(broadcast(k))
      .join(hits, Seq("dim"), "left")
      .select($"dim", $"sum_k",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)).cast("double") / $"sum_k").as("recall"))
      .orderBy($"dim")
  }
  val q320Sql: String = {
    def cosTr(a: String, b: String): String = cosSql(
      s"list_slice($a::DOUBLE[], 1, dm)", s"list_slice($b::DOUBLE[], 1, dm)")
    s"""WITH bf AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")}, 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |tr AS (
      |  SELECT dm, query_id, neighbor_id FROM (
      |    SELECT dm, q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY dm, q.vec_id ORDER BY
      |        ROUND(${cosTr("q.embedding", "c.embedding")}, 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q
      |    JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id,
      |      (SELECT unnest([8, 16, 32]) AS dm) dims)
      |  WHERE rank <= 5),
      |hits AS (
      |  SELECT dm AS dim, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM bf JOIN tr ON bf.query_id = tr.query_id
      |    AND bf.neighbor_id = tr.neighbor_id
      |  GROUP BY 1),
      |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS sum_k FROM bf)
      |SELECT dm AS dim, sum_k, COALESCE(n_hits, 0) AS n_hits,
      |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / sum_k AS recall
      |FROM (SELECT unnest([8, 16, 32]) AS dm)
      |CROSS JOIN k
      |LEFT JOIN hits ON dm = hits.dim
      |ORDER BY dm""".stripMargin
  }

  // --- q321: Davies-Bouldin cluster-quality audit of the k-means trainer ----
  // The quality gate the k-means family was missing: q122 verifies the
  // trainer's ASSIGNMENTS verbatim and q215 audits cell BALANCE, but
  // nothing said whether the clusters are any GOOD. Per cluster i:
  // scatter S_i (mean member distance to centroid — q51's decimal-snap
  // mean of IEEE-exact sqrts) and the Davies-Bouldin term
  // R_i = max_{j≠i} (S_i+S_j)/M_ij over centroid separations M_ij; the
  // corpus-level DB index is the mean of R_i, computed on the exact 1e-6
  // long grid after one snap per R_i. sqrt is IEEE-correctly-rounded
  // (portable); every input to it is the rounded-6 arithmetic q122
  // already proves engine-identical. One corpus scan (the distance pass)
  // beyond the trainer itself; everything downstream is k-sized.
  def q321(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val emb = Tables.embeddings(s, d)
    val cent = Similarity.trainKMeansCells(emb, k = 8, iters = 2)
      .persistTracked() // member-distance pass + pair separations
    val scat = Similarity.assignKMeansCells(emb, cent)
      .join(broadcast(cent), "cell")
      .withColumn("dist", sqrt(Similarity.sqDistRounded(
        asDouble($"embedding"), $"centroid")))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_members"),
        round(sum($"dist".cast("decimal(18,9)")).cast("double") / count(lit(1)), 6)
          .as("s_i"))
      .join(cent, "cell")
      .persistTracked() // both sides of the pair join
    val pairs = scat.select($"cell".as("ci"), $"s_i".as("si"), $"centroid".as("ca"))
      .join(broadcast(scat.select($"cell".as("cj"), $"s_i".as("sj"),
        $"centroid".as("cb"))), $"ci" =!= $"cj")
      .withColumn("r", ($"si" + $"sj")
        / sqrt(Similarity.sqDistRounded($"ca", $"cb")))
      .groupBy($"ci")
      .agg(round(max($"r") * 1e6).cast("long").as("r_e6"))
    val db = pairs.agg(expr("cast(sum(r_e6) div count(1) as bigint)")
      .as("db_e6"))
    scat.select($"cell", $"n_members", $"s_i")
      .join(pairs.select($"ci".as("cell"), $"r_e6"), "cell")
      .crossJoin(broadcast(db))
      .select($"cell", $"n_members", $"s_i",
        ($"r_e6".cast("double") / 1e6).as("r_max"),
        ($"db_e6".cast("double") / 1e6).as("db_index"))
      .orderBy($"cell")
  }
  val q321Sql: String =
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |c0 AS (SELECT vec_id AS cell, e AS c FROM emb ORDER BY vec_id LIMIT 8),
      |a0 AS (${kmAssign("c0")}),
      |c1 AS (${kmUpdate("a0")}),
      |a1 AS (${kmAssign("c1")}),
      |c2 AS (${kmUpdate("a1")}),
      |a2 AS (${kmAssign("c2")}),
      |scat AS (
      |  SELECT a.cell, CAST(COUNT(*) AS BIGINT) AS n_members,
      |    ROUND(CAST(SUM(CAST(sqrt(${sqd("a.e", "c.c")}) AS DECIMAL(18,9)))
      |      AS DOUBLE) / COUNT(*), 6) AS s_i
      |  FROM a2 a JOIN c2 c ON a.cell = c.cell
      |  GROUP BY a.cell),
      |pairs AS (
      |  SELECT a.cell AS ci,
      |    CAST(round(MAX((a.s_i + b.s_i) / sqrt(${sqd("ca.c", "cb.c")})) * 1e6)
      |      AS BIGINT) AS r_e6
      |  FROM scat a JOIN scat b ON a.cell <> b.cell
      |  JOIN c2 ca ON ca.cell = a.cell
      |  JOIN c2 cb ON cb.cell = b.cell
      |  GROUP BY a.cell),
      |db AS (
      |  SELECT CAST(SUM(r_e6) // COUNT(*) AS BIGINT) AS db_e6 FROM pairs)
      |SELECT scat.cell, n_members, s_i,
      |  CAST(r_e6 AS DOUBLE) / 1e6 AS r_max,
      |  CAST(db_e6 AS DOUBLE) / 1e6 AS db_index
      |FROM scat JOIN pairs ON scat.cell = pairs.ci
      |CROSS JOIN db
      |ORDER BY scat.cell""".stripMargin

  // --- q341/q342/q343: navigable k-NN graph ANN (build / probe / recall) ---
  // The graph-structured member of the ANN family (IVF-PQ: q141/q168;
  // LSH: q54/q331) — the index shape production vector stores actually
  // serve from (NSW/HNSW base layer). Build: LSH bucket-collision
  // candidates (never all-pairs), exact-reranked, symmetrized, cut to
  // top-12 out-edges per node on the (sim DESC, dst ASC) grid; staged
  // partitionBy(src % 16) so a search round's edge lookup is a
  // partition-pruned literal-IN read (the q168 layout discipline).
  // Search: deterministic greedy beam — 8 entry points (the 8 smallest
  // node ids: ids are uncorrelated with embedding position, so they are
  // 8 independent starts, the navigability fix for a flat kNN graph),
  // beam 16, 5 rounds, all ties on node id — reading only the visited
  // neighborhood: per round one pruned edges read + one
  // predicate-pushdown corpus read of the newly-reached ids; driver
  // state is (query, node, sim) triples bounded by construction
  // (≤ q·(entries + rounds·beam·degree) ≈ 1k triples at any corpus
  // size). Measured at sf0.1: recall@5 = 0.65 visiting ~48% of this
  // 2k-vector corpus — the visited budget is FIXED, so the fraction
  // (and cost) shrinks linearly as the corpus grows while graph
  // navigation keeps the hit rate; the q343 gate records the number.
  // The oracle restates the full trajectory: same plane CTEs as
  // q331, graph CTEs, then the 5 rounds unrolled (MATERIALIZED per
  // the q82 convention — each is referenced twice downstream).
  private def nngIdx(s: SparkSession, d: String): java.nio.file.Path =
    graft.Stage.derived("nng_6x5_m12_b16_v", d) { p =>
      graft.sources.NeighborGraph.build(Tables.embeddings(s, d), p.toString,
        m = 12, numTables = 6, planesPerTable = 5, nBuckets = 16)
    }

  def q341(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"${nngIdx(s, d)}/edges")
      .filter($"src" < 8)
      .select($"src", $"dst", $"rank", $"sim")
      .orderBy($"src", $"rank")
  }

  /** Plane/bucket/candidate CTEs (the q331 text, threshold-free) +
    * symmetrized top-12 edge CTE — shared by the q341–q346 oracles.
    * `corpusWhere` restricts which vectors are graph members (the
    * incremental-build split in q345/q346). */
  private def nngEdgeCtesW(corpusWhere: String): String =
    nngEdgeCtesP("", corpusWhere)

  /** [[nngEdgeCtesW]] with a NAME PREFIX so several edge relations (the
    * two layers of a hierarchical build, a refined-vs-base chain) can
    * coexist in one statement; the relation lands in `${p}edges`. */
  private def nngEdgeCtesP(p: String, corpusWhere: String,
      tbl: String = "embeddings"): String =
    s"""${p}comps AS MATERIALIZED (
      |  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |         unnest(embedding::DOUBLE[]) AS v
      |  FROM $tbl WHERE $corpusWhere
      |), ${p}dots AS MATERIALIZED (
      |  SELECT vec_id, p,
      |    SUM(CAST(FLOOR(v * ((pos * 7919 + p * 1000003) * 2654435761 % 2049 - 1024) * 1e9)
      |        AS BIGINT)) AS d
      |  FROM ${p}comps, (SELECT unnest(range(0, 30)) AS p) pl
      |  GROUP BY vec_id, p
      |), ${p}buckets AS MATERIALIZED (
      |  SELECT vec_id, p // 5 AS table_id,
      |    CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << (p % 5)) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM ${p}dots GROUP BY vec_id, p // 5
      |), ${p}candn AS MATERIALIZED (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM ${p}buckets a JOIN ${p}buckets b
      |    ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      |), ${p}scn AS MATERIALIZED (
      |  SELECT c.vec_a, c.vec_b,
      |    ROUND(${cosSql("ea.embedding::DOUBLE[]", "eb.embedding::DOUBLE[]")}, 6) AS sim
      |  FROM ${p}candn c
      |  JOIN $tbl ea ON ea.vec_id = c.vec_a
      |  JOIN $tbl eb ON eb.vec_id = c.vec_b
      |), ${p}bothn AS (
      |  SELECT vec_a AS src, vec_b AS dst, sim FROM ${p}scn
      |  UNION ALL
      |  SELECT vec_b, vec_a, sim FROM ${p}scn
      |), ${p}edges AS MATERIALIZED (
      |  SELECT src, dst, sim, rk AS rank FROM (
      |    SELECT src, dst, sim,
      |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rk
      |    FROM ${p}bothn)
      |  WHERE rk <= 12)""".stripMargin

  /** One NN-descent refinement restated (NeighborGraph.build's
    * refineRounds = 1): each node's undirected neighborhood (out ∪
    * reverse edges, capped at 2m = 24 by (sim DESC, dst ASC)) proposes
    * all sibling pairs, candidates = those ∪ current edges, exact-rerank,
    * re-cut to top-12. Consumes `$baseEdges`, lands in `${p}edges`. */
  private def nngRefineCtes(p: String, baseEdges: String): String =
    s"""${p}und AS MATERIALIZED (
      |  SELECT src, dst FROM (
      |    SELECT src, dst, sim,
      |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS ur
      |    FROM (SELECT DISTINCT src, dst, sim FROM (
      |      SELECT src, dst, sim FROM $baseEdges
      |      UNION ALL SELECT dst, src, sim FROM $baseEdges)))
      |  WHERE ur <= 24
      |), ${p}rcand AS MATERIALIZED (
      |  SELECT DISTINCT vec_a, vec_b FROM (
      |    SELECT e1.dst AS vec_a, e2.dst AS vec_b
      |    FROM ${p}und e1 JOIN ${p}und e2
      |      ON e1.src = e2.src AND e1.dst < e2.dst
      |    UNION ALL
      |    SELECT LEAST(src, dst), GREATEST(src, dst) FROM ${p}und)
      |), ${p}rsc AS MATERIALIZED (
      |  SELECT c.vec_a, c.vec_b,
      |    ROUND(${cosSql("ea.embedding::DOUBLE[]", "eb.embedding::DOUBLE[]")}, 6) AS sim
      |  FROM ${p}rcand c
      |  JOIN embeddings ea ON ea.vec_id = c.vec_a
      |  JOIN embeddings eb ON eb.vec_id = c.vec_b
      |), ${p}edges AS MATERIALIZED (
      |  SELECT src, dst, sim, rk AS rank FROM (
      |    SELECT src, dst, sim,
      |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rk
      |    FROM (SELECT vec_a AS src, vec_b AS dst, sim FROM ${p}rsc
      |          UNION ALL SELECT vec_b, vec_a, sim FROM ${p}rsc))
      |  WHERE rk <= 12)""".stripMargin
  private val nngEdgeCtes: String = nngEdgeCtesW("TRUE")
  val q341Sql: String =
    s"""WITH $nngEdgeCtes
      |SELECT src, dst, rank, sim FROM edges WHERE src < 8
      |ORDER BY src, rank""".stripMargin

  /** The unrolled 5-round beam-search CTE chain ending in visited set
    * `${p}v5` (query_id, node, sim). `p` prefixes every CTE name so two
    * searches can chain in one statement (q346's append-then-probe);
    * `qsWhere` selects the query vectors; `edgesRel` names the edge
    * relation to walk (the base `edges` or an augmented union). */
  private def nngSearchCtesW(p: String, qsWhere: String,
      edgesRel: String): String =
    nngSearchCtesP(p, qsWhere, edgesRel, rounds = 5, beam = 16, nEntries = 8)

  /** Rounds `1..rounds` of the unrolled walk at `beam`, reading queries
    * from `$qsRel` — shared by the fresh-search and continuation
    * builders. Expects `${p}b0`/`${p}v0` to exist. */
  private def nngRoundCtes(p: String, qsRel: String, edgesRel: String,
      rounds: Int, beam: Int, tbl: String = "embeddings"): String =
    (1 to rounds).map { r =>
      s"""${p}e$r AS (
        |  SELECT DISTINCT b.query_id, ed.dst AS node
        |  FROM ${p}b${r - 1} b JOIN $edgesRel ed ON ed.src = b.node
        |), ${p}s$r AS MATERIALIZED (
        |  SELECT en.query_id, en.node,
        |    ROUND(${cosSql("q.qe", "ne.embedding::DOUBLE[]")}, 6) AS sim
        |  FROM ${p}e$r en
        |  JOIN $qsRel q ON q.query_id = en.query_id
        |  JOIN $tbl ne ON ne.vec_id = en.node
        |  WHERE NOT EXISTS (SELECT 1 FROM ${p}v${r - 1} v
        |    WHERE v.query_id = en.query_id AND v.node = en.node)
        |), ${p}v$r AS MATERIALIZED (
        |  SELECT * FROM ${p}v${r - 1} UNION ALL SELECT * FROM ${p}s$r
        |), ${p}b$r AS MATERIALIZED (
        |  SELECT query_id, node, sim FROM (
        |    SELECT query_id, node, sim,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rk
        |    FROM ${p}v$r)
        |  WHERE rk <= $beam)""".stripMargin
    }.mkString(",\n")

  /** Parametrized unrolled search over `$edgesRel` — entry scoring at
    * `$nEntries` smallest srcs, then `rounds` rounds at `beam`; visited
    * set lands in `${p}v$rounds`. */
  private def nngSearchCtesP(p: String, qsWhere: String, edgesRel: String,
      rounds: Int, beam: Int, nEntries: Int,
      tbl: String = "embeddings"): String =
    s"""${p}qs AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      |  FROM $tbl WHERE $qsWhere
      |), ${p}ent AS (
      |  SELECT src AS e FROM (SELECT DISTINCT src FROM $edgesRel ORDER BY src LIMIT $nEntries)
      |), ${p}v0 AS MATERIALIZED (
      |  SELECT q.query_id, ent.e AS node,
      |    ROUND(${cosSql("q.qe", "ne.embedding::DOUBLE[]")}, 6) AS sim
      |  FROM ${p}qs q CROSS JOIN ${p}ent ent
      |  JOIN $tbl ne ON ne.vec_id = ent.e
      |), ${p}b0 AS (
      |  SELECT query_id, node, sim FROM (
      |    SELECT query_id, node, sim,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rk
      |    FROM ${p}v0)
      |  WHERE rk <= $beam),
      |${nngRoundCtes(p, s"${p}qs", edgesRel, rounds, beam, tbl)}""".stripMargin

  /** Continuation walk — the hierarchy descent: rounds over `$edgesRel`
    * whose round-0 visited set IS `$v0Rel` (the previous phase's final
    * visited), reading queries from `$qsRel`. No entry scoring. */
  private def nngContCtes(p: String, qsRel: String, v0Rel: String,
      edgesRel: String, rounds: Int, beam: Int): String =
    s"""${p}v0 AS MATERIALIZED (
      |  SELECT query_id, node, sim FROM $v0Rel
      |), ${p}b0 AS (
      |  SELECT query_id, node, sim FROM (
      |    SELECT query_id, node, sim,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rk
      |    FROM ${p}v0)
      |  WHERE rk <= $beam),
      |${nngRoundCtes(p, qsRel, edgesRel, rounds, beam)}""".stripMargin
  private val nngSearchCtes: String = nngSearchCtesW("", "vec_id < 8", "edges")

  def q342(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    graft.sources.NeighborGraph.beamSearch(s, nngIdx(s, d).toString,
        emb.filter($"vec_id" < 8), emb, k = 5, beamWidth = 16, rounds = 5,
        nBuckets = 16, nEntries = 8)
      .orderBy($"query_id", $"rank")
  }
  val q342Sql: String =
    s"""WITH $nngEdgeCtes,
      |$nngSearchCtes
      |SELECT query_id, neighbor_id, rank, sim FROM (
      |  SELECT query_id, node AS neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |  FROM v5 WHERE node <> query_id)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  def q343(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(queries, emb, k = 5, queryCountHint = 8)
      .select($"query_id", $"neighbor_id")
    val ng = graft.sources.NeighborGraph.beamSearch(s, nngIdx(s, d).toString,
        queries, emb, k = 5, beamWidth = 16, rounds = 5, nBuckets = 16, nEntries = 8)
      .select($"query_id", $"neighbor_id")
    val hits = bf.join(ng, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    val per = bf.groupBy($"query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select($"query_id", $"k",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)).cast("double") / $"k").as("recall"))
    val mean = per.agg(sum($"n_hits").as("sh"), sum($"k").as("sk"))
      .select(($"sh".cast("double") / $"sk").as("mean_recall"))
    per.crossJoin(broadcast(mean))
      .orderBy($"query_id")
  }
  val q343Sql: String =
    s"""WITH $nngEdgeCtes,
      |$nngSearchCtes,
      |pq AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, node AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |    FROM v5 WHERE node <> query_id)
      |  WHERE rank <= 5
      |), bf AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")}, 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |hits AS (
      |  SELECT bf.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM bf JOIN pq ON bf.query_id = pq.query_id
      |    AND bf.neighbor_id = pq.neighbor_id
      |  GROUP BY 1),
      |per AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM bf GROUP BY 1),
      |j AS (
      |  SELECT per.query_id, per.k, COALESCE(n_hits, 0) AS n_hits,
      |    CAST(COALESCE(n_hits, 0) AS DOUBLE) / per.k AS recall
      |  FROM per LEFT JOIN hits ON per.query_id = hits.query_id),
      |m AS (SELECT CAST(SUM(n_hits) AS DOUBLE) / SUM(k) AS mean_recall FROM j)
      |SELECT query_id, k, n_hits, recall, mean_recall
      |FROM j CROSS JOIN m
      |ORDER BY query_id""".stripMargin

  // --- q345/q346: incremental graph maintenance (append + serve) -----------
  // The [[VectorIndex.append]] lifecycle contract for the neighbor graph
  // (q194's split discipline): build the graph WITHOUT a 2% holdout
  // (vec_id % 50 = 7), then absorb the holdout via NeighborGraph.append —
  // HNSW insertion: each new vector's neighbors are found by the graph's
  // OWN beam search, forward edges ranked 1..12, back-links appended with
  // the rank-0 "pending re-prune" sentinel, only touched partitions
  // written. q345 hash-gates the appended edge set (the oracle re-derives
  // it by restating the insertion search over the base graph); q346
  // proves the augmented graph SERVES — the standard 8-probe search now
  // walks base + appended edges as one relation (probe 7 IS a new node:
  // its results come entirely through append-created links), oracle =
  // TWO chained unrolled searches (insertion then probe).
  private def nngIncr(s: SparkSession, d: String): java.nio.file.Path =
    graft.Stage.derived("nng_incr_6x5_m12_v", d) { p =>
      val emb = Tables.embeddings(s, d)
      graft.sources.NeighborGraph.build(emb.filter(col("vec_id") % 50 =!= 7),
        p.toString, m = 12, numTables = 6, planesPerTable = 5, nBuckets = 16)
      graft.sources.NeighborGraph.append(s, p.toString,
        emb.filter(col("vec_id") % 50 === 7), emb, m = 12, beamWidth = 16,
        rounds = 5, nBuckets = 16, nEntries = 8,
        bulkHint = Some(false)) // the 2% holdout is a known-bounded batch
      ()
    }

  def q345(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"${nngIncr(s, d)}/edges")
      .filter($"src" % 50 === 7 || $"dst" % 50 === 7)
      .select($"src", $"dst", $"rank", $"sim")
      .orderBy($"src", $"dst")
  }
  val q345Sql: String =
    s"""WITH ${nngEdgeCtesW("vec_id % 50 <> 7")},
      |${nngSearchCtesW("a", "vec_id % 50 = 7", "edges")},
      |afwd AS (
      |  SELECT query_id AS src, node AS dst, sim, rank FROM (
      |    SELECT query_id, node, sim,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |    FROM av5)
      |  WHERE rank <= 12)
      |SELECT src, dst, rank, sim FROM afwd
      |UNION ALL
      |SELECT dst, src, 0, sim FROM afwd
      |ORDER BY src, dst""".stripMargin

  def q346(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    graft.sources.NeighborGraph.beamSearch(s, nngIncr(s, d).toString,
        emb.filter($"vec_id" < 8), emb, k = 5, beamWidth = 16, rounds = 5,
        nBuckets = 16, nEntries = 8)
      .orderBy($"query_id", $"rank")
  }
  val q346Sql: String =
    s"""WITH ${nngEdgeCtesW("vec_id % 50 <> 7")},
      |${nngSearchCtesW("a", "vec_id % 50 = 7", "edges")},
      |afwd AS MATERIALIZED (
      |  SELECT query_id AS src, node AS dst, sim FROM (
      |    SELECT query_id, node, sim,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |    FROM av5)
      |  WHERE rank <= 12),
      |aug AS MATERIALIZED (
      |  SELECT src, dst, sim FROM edges
      |  UNION ALL SELECT src, dst, sim FROM afwd
      |  UNION ALL SELECT dst, src, sim FROM afwd),
      |${nngSearchCtesW("p", "vec_id < 8", "aug")}
      |SELECT query_id, neighbor_id, rank, sim FROM (
      |  SELECT query_id, node AS neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |  FROM pv5 WHERE node <> query_id)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- q347/q348: graph node deletion (RTBF) — audit + serve ----------------
  // The lifecycle's last leg (build q341 / append q345 / serve q346 /
  // DELETE): the q345 scenario taken one step further — build without
  // the 2% holdout, append it, then DELETE it again via
  // NeighborGraph.delete (partition-scoped rewrite of only the buckets
  // holding a touched edge). Append(batch) ∘ delete(batch) must restore
  // the base edge relation VERBATIM — q347 audits the physical layout
  // (edge/node counts, zero rank-0 back-links left, max degree back
  // within the build cap) and q348 proves serving equivalence (the
  // 8-probe search over the deleted layout hash-equals the pure base
  // graph's search, oracle = the filtered-corpus restatement with no
  // append CTEs at all — the deleted nodes leave no trace).
  private def nngRtbf(s: SparkSession, d: String): java.nio.file.Path =
    graft.Stage.derived("nng_rtbf_6x5_m12_v", d) { p =>
      val emb = Tables.embeddings(s, d)
      graft.sources.NeighborGraph.build(emb.filter(col("vec_id") % 50 =!= 7),
        p.toString, m = 12, numTables = 6, planesPerTable = 5, nBuckets = 16)
      graft.sources.NeighborGraph.append(s, p.toString,
        emb.filter(col("vec_id") % 50 === 7), emb, m = 12, beamWidth = 16,
        rounds = 5, nBuckets = 16, nEntries = 8,
        bulkHint = Some(false)) // the 2% holdout is a known-bounded batch
      val ids = emb.filter(col("vec_id") % 50 === 7)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq.sorted
      graft.sources.NeighborGraph.delete(s, p.toString, ids, nBuckets = 16)
      ()
    }

  def q347(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = s.read.parquet(s"${nngRtbf(s, d)}/edges")
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
    edges.agg(count(lit(1)).as("n_edges"),
        countDistinct($"src").as("n_srcs"),
        sum(when($"rank" === 0, 1L).otherwise(0L)).as("n_back_links"),
        sum(when($"src" % 50 === 7 || $"dst" % 50 === 7, 1L).otherwise(0L))
          .as("n_deleted_residual"))
      .crossJoin(broadcast(deg.agg(max($"d").as("max_degree"))))
  }
  val q347Sql: String =
    s"""WITH ${nngEdgeCtesW("vec_id % 50 <> 7")},
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
      |  CAST(COUNT(DISTINCT src) AS BIGINT) AS n_srcs,
      |  CAST(SUM(CASE WHEN rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_back_links,
      |  CAST(SUM(CASE WHEN src % 50 = 7 OR dst % 50 = 7 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_deleted_residual,
      |  (SELECT MAX(d) FROM deg) AS max_degree
      |FROM edges""".stripMargin

  def q348(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    graft.sources.NeighborGraph.beamSearch(s, nngRtbf(s, d).toString,
        emb.filter($"vec_id" < 8), emb, k = 5, beamWidth = 16, rounds = 5,
        nBuckets = 16, nEntries = 8)
      .orderBy($"query_id", $"rank")
  }
  val q348Sql: String =
    s"""WITH ${nngEdgeCtesW("vec_id % 50 <> 7")},
      |${nngSearchCtesW("p", "vec_id < 8", "edges")}
      |SELECT query_id, neighbor_id, rank, sim FROM (
      |  SELECT query_id, node AS neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |  FROM pv5 WHERE node <> query_id)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- q351: graph maintenance decision (compact vs serve) ------------------
  // The [[VectorIndex.maintenancePlan]] front door for the graph layout:
  // appends leave rank-0 back-links that overflow node degrees past the
  // build cap, degrading the top-m pruning contract — the observable
  // that prices a compaction. One scan of the (appended) layout yields
  // edge/back-link counts and overflow nodes; the decision rule
  // (back_ppm ≥ threshold → compact) is evaluated at two thresholds so
  // BOTH branches are on the hash record. Exact integer/ppm arithmetic
  // throughout; the oracle re-derives the appended layout from the
  // insertion-search CTEs (no staged state assumed).
  def q351(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = s.read.parquet(s"${nngIncr(s, d)}/edges")
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
    val stats = edges.agg(count(lit(1)).as("n_edges"),
        sum(when($"rank" === 0, 1L).otherwise(0L)).as("n_back_links"))
      .crossJoin(broadcast(deg.agg(
        sum(when($"d" > 12, 1L).otherwise(0L)).as("n_overflow_nodes"),
        max($"d").as("max_degree"))))
      .withColumn("back_ppm", expr(
        "cast(cast(n_back_links as decimal(38,0)) * 1000000 div n_edges as bigint)"))
    Seq(10000L, 50000L).toDF("threshold_ppm")
      .crossJoin(broadcast(stats))
      .select($"threshold_ppm", $"n_edges", $"n_back_links",
        $"n_overflow_nodes", $"max_degree", $"back_ppm",
        when($"back_ppm" >= $"threshold_ppm", lit("compact"))
          .otherwise(lit("serve")).as("decision"))
      .orderBy($"threshold_ppm")
  }
  val q351Sql: String =
    s"""WITH ${nngEdgeCtesW("vec_id % 50 <> 7")},
      |${nngSearchCtesW("a", "vec_id % 50 = 7", "edges")},
      |afwd AS MATERIALIZED (
      |  SELECT query_id AS src, node AS dst FROM (
      |    SELECT query_id, node, sim,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |    FROM av5)
      |  WHERE rank <= 12),
      |lay AS (
      |  SELECT src, dst, 1 AS rk FROM edges
      |  UNION ALL SELECT src, dst, 1 FROM afwd
      |  UNION ALL SELECT dst, src, 0 FROM afwd),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM lay GROUP BY src),
      |st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
      |    CAST(SUM(CASE WHEN rk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_back_links
      |  FROM lay),
      |dg AS (
      |  SELECT CAST(SUM(CASE WHEN d > 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_nodes,
      |    MAX(d) AS max_degree
      |  FROM deg),
      |ts AS (SELECT CAST(unnest([10000, 50000]) AS BIGINT) AS threshold_ppm)
      |SELECT threshold_ppm, n_edges, n_back_links, n_overflow_nodes, max_degree,
      |  CAST(CAST(n_back_links AS HUGEINT) * 1000000 // n_edges AS BIGINT) AS back_ppm,
      |  CASE WHEN CAST(n_back_links AS HUGEINT) * 1000000 // n_edges >= threshold_ppm
      |    THEN 'compact' ELSE 'serve' END AS decision
      |FROM ts CROSS JOIN st CROSS JOIN dg
      |ORDER BY threshold_ppm""".stripMargin

  // --- q353/q354: graph compaction (audit + serve) --------------------------
  // The verb q351's decision rule prices: build without the 2% holdout,
  // append it (leaving rank-0 back-links and over-cap degrees), then
  // COMPACT — re-cut every pending src (degree > 12 or holding a rank-0
  // sentinel) to its top-12 by (sim DESC, dst ASC) with ranks renumbered,
  // rewriting ONLY the buckets that hold one (crash-atomic swap; the
  // file-listing proof that untouched buckets stay closed is
  // NeighborGraphSpec's). q353 fingerprints the compacted relation
  // (counts, zero back-links, degree cap, dense ranks, sim/key
  // checksums — the oracle re-derives the WHOLE compacted edge set:
  // base CTEs + insertion search + the same pending-bucket re-cut);
  // q354 proves the compacted graph SERVES (8-probe search, oracle =
  // the unrolled walk over the re-derived compacted relation).
  private def nngCpt(s: SparkSession, d: String): java.nio.file.Path =
    graft.Stage.derived("nng_cpt_6x5_m12_v", d) { p =>
      val emb = Tables.embeddings(s, d)
      graft.sources.NeighborGraph.build(emb.filter(col("vec_id") % 50 =!= 7),
        p.toString, m = 12, numTables = 6, planesPerTable = 5, nBuckets = 16)
      graft.sources.NeighborGraph.append(s, p.toString,
        emb.filter(col("vec_id") % 50 === 7), emb, m = 12, beamWidth = 16,
        rounds = 5, nBuckets = 16, nEntries = 8,
        bulkHint = Some(false)) // the 2% holdout is a known-bounded batch
      graft.sources.NeighborGraph.compact(s, p.toString, m = 12, nBuckets = 16)
      ()
    }

  /** The compacted edge relation, re-derived: appended layout (`lay`,
    * the q351 CTE with sim/rank kept) → pending buckets (a src over the
    * cap or carrying a rank-0 sentinel) → per-src top-12 re-cut inside
    * them, verbatim rows outside. */
  private val nngCptCtes: String =
    s"""${nngEdgeCtesW("vec_id % 50 <> 7")},
      |${nngSearchCtesW("a", "vec_id % 50 = 7", "edges")},
      |afwd AS MATERIALIZED (
      |  SELECT query_id AS src, node AS dst, sim, rank FROM (
      |    SELECT query_id, node, sim,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |    FROM av5)
      |  WHERE rank <= 12),
      |lay AS MATERIALIZED (
      |  SELECT src, dst, sim, rank FROM edges
      |  UNION ALL SELECT src, dst, sim, rank FROM afwd
      |  UNION ALL SELECT dst, src, sim, 0 FROM afwd),
      |tb AS (
      |  SELECT DISTINCT src % 16 AS b FROM lay GROUP BY src
      |  HAVING COUNT(*) > 12 OR SUM(CASE WHEN rank = 0 THEN 1 ELSE 0 END) > 0),
      |cedges AS MATERIALIZED (
      |  SELECT src, dst, sim, rank FROM lay
      |  WHERE src % 16 NOT IN (SELECT b FROM tb)
      |  UNION ALL
      |  SELECT src, dst, sim, rk AS rank FROM (
      |    SELECT src, dst, sim,
      |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rk
      |    FROM lay WHERE src % 16 IN (SELECT b FROM tb))
      |  WHERE rk <= 12)""".stripMargin

  def q353(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = s.read.parquet(s"${nngCpt(s, d)}/edges")
    val degStats = edges.groupBy($"src")
      .agg(count(lit(1)).as("dg"), max($"rank").as("mx"), min($"rank").as("mn"))
      .agg(max($"dg").as("max_degree"),
        sum(when($"mx" =!= $"dg" || $"mn" =!= 1, 1L).otherwise(0L))
          .as("n_nondense_srcs"))
    edges.agg(count(lit(1)).as("n_edges"),
        countDistinct($"src").as("n_srcs"),
        sum(when($"rank" === 0, 1L).otherwise(0L)).as("n_back_links"),
        sum(round($"sim" * 1e6).cast("long")).as("sum_sim_e6"),
        sum($"src" * 100003L + $"dst").as("sum_key"))
      .crossJoin(broadcast(degStats))
  }
  val q353Sql: String =
    s"""WITH $nngCptCtes,
      |deg AS (
      |  SELECT src, CAST(COUNT(*) AS BIGINT) AS dg,
      |    MAX(rank) AS mx, MIN(rank) AS mn
      |  FROM cedges GROUP BY src),
      |ds AS (
      |  SELECT MAX(dg) AS max_degree,
      |    CAST(SUM(CASE WHEN mx <> dg OR mn <> 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_nondense_srcs
      |  FROM deg)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
      |  CAST(COUNT(DISTINCT src) AS BIGINT) AS n_srcs,
      |  CAST(SUM(CASE WHEN rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_back_links,
      |  CAST(SUM(CAST(ROUND(sim * 1e6) AS BIGINT)) AS BIGINT) AS sum_sim_e6,
      |  CAST(SUM(src * 100003 + dst) AS BIGINT) AS sum_key,
      |  max_degree, n_nondense_srcs
      |FROM cedges CROSS JOIN ds
      |GROUP BY max_degree, n_nondense_srcs""".stripMargin

  def q354(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    graft.sources.NeighborGraph.beamSearch(s, nngCpt(s, d).toString,
        emb.filter($"vec_id" < 8), emb, k = 5, beamWidth = 16, rounds = 5,
        nBuckets = 16, nEntries = 8)
      .orderBy($"query_id", $"rank")
  }
  val q354Sql: String =
    s"""WITH $nngCptCtes,
      |${nngSearchCtesW("p", "vec_id < 8", "cedges")}
      |SELECT query_id, neighbor_id, rank, sim FROM (
      |  SELECT query_id, node AS neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |  FROM pv5 WHERE node <> query_id)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- q355/q356: hierarchical (HNSW-shaped) graph ANN -----------------------
  // The two refinements the flat q341 graph lacks, both build-side:
  //  - NN-DESCENT (refineRounds = 1): each node's undirected neighborhood
  //    (out ∪ reverse, capped 2m) proposes sibling pairs, exact-reranked,
  //    re-cut — n·(2m)² work, never all-pairs.
  //  - HIERARCHY (l1Mod = 8): a deterministically id-sampled coarse layer,
  //    built with the same machinery, walked FIRST so the base walk's
  //    entries land near the query (the HNSW descent).
  // q355 hash-gates the full two-phase trajectory (8 probes: coarse walk
  // beam 8 × 3 rounds, base continuation beam 16 × 5 rounds; the oracle
  // restates BOTH layers' builds — LSH seed + refinement round — then
  // both walks, the continuation's round-0 visited set being the coarse
  // walk's final one). q356 gates the budget→recall CURVE on the refined
  // base graph: mean recall@5 vs brute force at three visit budgets in
  // one result. MEASURED (sf0.1, PLANS.md round 14): the corpus is
  // ISOTROPIC random (cross-label mean cosine 0.0003, within-label
  // -0.0017, max pairwise ~0.45) — no manifold for a graph walk to
  // exploit, so recall at the serving budget is structurally capped
  // (~0.65-0.80) and rises with budget (≥ 0.85 at beam 64; 1.0 by beam
  // 128): exactly the budget↔recall trade the curve records. On a
  // clustered corpus the same machinery shows the standard HNSW profile.
  private def nngRef(s: SparkSession, d: String): java.nio.file.Path =
    graft.Stage.derived("nng_hier_r1_6x5_m12_v", d) { p =>
      graft.sources.NeighborGraph.buildHier(Tables.embeddings(s, d),
        p.toString, m = 12, numTables = 6, planesPerTable = 5, nBuckets = 16,
        refineRounds = 1, l1Mod = 8)
    }

  /** Refined-edge chains: LSH seed (prefix `${p}z`) + one NN-descent
    * round → `${p}edges`. */
  private def nngRefEdges(p: String, corpusWhere: String): String =
    s"""${nngEdgeCtesP(s"${p}z", corpusWhere)},
      |${nngRefineCtes(p, s"${p}zedges")}""".stripMargin

  def q355(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    graft.sources.NeighborGraph.beamSearchHier(s, nngRef(s, d).toString,
        emb.filter($"vec_id" < 8), emb, k = 5, l1Beam = 8, l1Rounds = 3,
        beamWidth = 16, rounds = 5, nBuckets = 16, nEntries = 8)
      .orderBy($"query_id", $"rank")
  }
  val q355Sql: String =
    s"""WITH ${nngRefEdges("h", "vec_id % 8 = 0")},
      |${nngRefEdges("g", "TRUE")},
      |${nngSearchCtesP("a", "vec_id < 8", "hedges", rounds = 3, beam = 8,
        nEntries = 8)},
      |${nngContCtes("p", "aqs", "av3", "gedges", rounds = 5, beam = 16)}
      |SELECT query_id, neighbor_id, rank, sim FROM (
      |  SELECT query_id, node AS neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |  FROM pv5 WHERE node <> query_id)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  def q356(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter($"vec_id" < 8)
    val path = nngRef(s, d).toString // base layer = the refined flat graph
    val bf = Similarity.bruteForceTopK(queries, emb, k = 5, queryCountHint = 8)
      .select($"query_id", $"neighbor_id")
    val bfTotal = bf.agg(count(lit(1)).as("k_total"))
    // one serving session for the whole budget sweep: the three walks
    // share the driver adjacency cache (per-arm answers identical to
    // standalone beamSearch calls — see beamSearchSweep), so the wider
    // arms re-read only the srcs the narrower ones never visited
    val settings = Seq((16, 5), (32, 6), (64, 8))
    val walked = graft.sources.NeighborGraph.beamSearchSweep(s, path,
      queries, emb, k = 5, settings = settings, nBuckets = 16, nEntries = 8)
    settings.zip(walked).map { case ((bw, ro), w) =>
      val ng = w.select($"query_id", $"neighbor_id")
      bf.join(ng, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(bw).as("beam"), lit(ro).as("rounds"), $"n_hits")
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(bfTotal))
      .select($"beam", $"rounds", $"n_hits", $"k_total",
        ($"n_hits".cast("double") / $"k_total").as("mean_recall"))
      .orderBy($"beam")
  }
  val q356Sql: String = {
    val searches = Seq(("u1", 16, 5), ("u2", 32, 6), ("u3", 64, 8))
    val walkCtes = searches.map { case (p, bw, ro) =>
      nngSearchCtesP(p, "vec_id < 8", "gedges", rounds = ro, beam = bw,
        nEntries = 8)
    }.mkString(",\n")
    val arms = searches.map { case (p, bw, ro) =>
      s"""SELECT $bw AS beam, $ro AS rounds, (
        |  SELECT CAST(COUNT(*) AS BIGINT) FROM bf
        |  WHERE EXISTS (SELECT 1 FROM (
        |      SELECT query_id, node AS neighbor_id FROM (
        |        SELECT query_id, node, sim,
        |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
        |        FROM ${p}v$ro WHERE node <> query_id)
        |      WHERE rank <= 5) a
        |    WHERE a.query_id = bf.query_id AND a.neighbor_id = bf.neighbor_id)
        |  ) AS n_hits""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${nngRefEdges("g", "TRUE")},
      |$walkCtes,
      |bf AS MATERIALIZED (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")}, 6) DESC,
      |        c.vec_id) AS rank
      |    FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |kt AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_total FROM bf),
      |arms AS ($arms)
      |SELECT beam, rounds, n_hits, k_total,
      |  CAST(n_hits AS DOUBLE) / k_total AS mean_recall
      |FROM arms CROSS JOIN kt
      |ORDER BY beam""".stripMargin
  }

  // --- q357: distributed bulk k-NN join over the graph ----------------------
  // The corpus-scale form of the q342 probe (every document probes the
  // graph — the semantic-dedup self-improvement loop): walk state is a
  // DataFrame (window beam → src-keyed edge join → anti-join visited →
  // score in-plan, localCheckpoint per round) instead of a driver map,
  // so the batch size is cluster-bounded, not driver-bounded
  // (ScaleStress runs the 10⁴-query batches the driver form cannot).
  // Identical arithmetic and tie-breaks by construction — the gate is
  // hash equality on the SAME oracle text as q342's driver-form search.
  def q357(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    graft.sources.NeighborGraph.beamSearchBulk(s, nngIdx(s, d).toString,
        emb.filter($"vec_id" < 8), emb, k = 5, beamWidth = 16, rounds = 5,
        nBuckets = 16, nEntries = 8)
      .orderBy($"query_id", $"rank")
  }
  val q357Sql: String = q342Sql

  // --- q360: delete-repair, then serve (RTBF churn recovery) ---------------
  // The lifecycle verb q347/q348 leave open: delete removes every edge
  // touching a deleted node but never re-links the survivors that lost
  // out-edges, so heavy RTBF churn permanently degrades navigability
  // around deleted hubs. NeighborGraph.repair closes it with the build's
  // own LSH candidate generation SCOPED to the blast radius (delete's
  // returned affected set): a deficient node's scoped collisions over
  // the survivors are exactly its rebuild candidates, so repair restores
  // the edge relation a never-deleted build over the survivors would
  // produce VERBATIM (NeighborGraphSpec proves set-equality). The gate:
  // build on the FULL corpus, delete the 2% slice, repair, serve 8
  // probes - and the oracle is q348's never-deleted restatement
  // unchanged. Same oracle, third lifecycle path (q348: build-partial +
  // append + delete; q360: build-full + delete + repair).
  private def nngRepaired(s: SparkSession, d: String): java.nio.file.Path =
    graft.Stage.derived("nng_repair_6x5_m12_v", d) { p =>
      val emb = Tables.embeddings(s, d)
      graft.sources.NeighborGraph.build(emb, p.toString, m = 12,
        numTables = 6, planesPerTable = 5, nBuckets = 16)
      val ids = emb.filter(col("vec_id") % 50 === 7)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq.sorted
      val affected = graft.sources.NeighborGraph.delete(s, p.toString, ids,
        nBuckets = 16)
      graft.sources.NeighborGraph.repair(s, p.toString, affected,
        emb.filter(col("vec_id") % 50 =!= 7), m = 12, numTables = 6,
        planesPerTable = 5, nBuckets = 16)
      ()
    }

  def q360(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    graft.sources.NeighborGraph.beamSearch(s, nngRepaired(s, d).toString,
        emb.filter($"vec_id" < 8), emb, k = 5, beamWidth = 16, rounds = 5,
        nBuckets = 16, nEntries = 8)
      .orderBy($"query_id", $"rank")
  }
  val q360Sql: String = q348Sql

  // --- q362: clustered-corpus recall gate -----------------------------------
  // The isotropy finding (round 14) showed recall on the synthetic
  // embeddings is budget-bound - the regime where navigable graphs SHINE
  // (clustered data) had spec-level invariants only. This gate stages a
  // deterministic clustered corpus both engines derive identically from
  // the embeddings table (400 vectors pulled toward 8 integer-mixer
  // cluster centers, 0.05 of the original vector as jitter - all exact
  // double arithmetic, snapped at 1e-6), builds the standard graph on
  // it, and hash-gates recall@5 at beam 16 INCLUDING the meets_target
  // boolean: the HNSW-regime payoff, oracle-checked. The fixture is
  // intentionally fixed-size across SFs (a property gate, not a scale
  // gate - ids 0..399 exist at every SF, so the oracle is SF-invariant).
  private def clusteredEmbCol: org.apache.spark.sql.Column =
    transform(col("embedding"), (v, i) =>
      round((((col("vec_id") % 8) * 37 + i * 11) % 13 - 6).cast("double")
        / 6.0 + v.cast("double") * 0.05, 6))
  private def clusteredEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 400)
      .select(col("vec_id"), clusteredEmbCol.as("embedding"))
  private val cembCte: String =
    """cemb AS MATERIALIZED (
      |  SELECT vec_id, list(cv ORDER BY pos) AS embedding FROM (
      |    SELECT vec_id, pos,
      |      ROUND(CAST(((vec_id % 8) * 37 + pos * 11) % 13 - 6 AS DOUBLE)
      |        / 6.0 + v * 0.05, 6) AS cv
      |    FROM (SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
      |                 unnest(embedding::DOUBLE[]) AS v
      |          FROM embeddings WHERE vec_id < 400))
      |  GROUP BY vec_id)""".stripMargin

  private def nngClustered(s: SparkSession, d: String): java.nio.file.Path =
    graft.Stage.derived("nng_clustered_v", d) { p =>
      graft.sources.NeighborGraph.build(clusteredEmb(s, d), p.toString,
        m = 12, numTables = 6, planesPerTable = 5, nBuckets = 8)
    }

  def q362(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cemb = clusteredEmb(s, d)
    val queries = cemb.filter($"vec_id" < 8) // ids 0..7 = one per cluster
    val bf = Similarity.bruteForceTopK(queries, cemb, k = 5,
        queryCountHint = 8)
      .select($"query_id", $"neighbor_id")
    val ng = graft.sources.NeighborGraph.beamSearch(s,
        nngClustered(s, d).toString, queries, cemb, k = 5, beamWidth = 16,
        rounds = 5, nBuckets = 8, nEntries = 8)
      .select($"query_id", $"neighbor_id")
    val hits = bf.join(ng, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    val per = bf.groupBy($"query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select($"query_id", $"k",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)).cast("double") / $"k").as("recall"))
    val mean = per.agg(sum($"n_hits").as("sh"), sum($"k").as("sk"))
      .select(($"sh".cast("double") / $"sk").as("mean_recall"))
    per.crossJoin(broadcast(mean))
      .withColumn("meets_target", $"mean_recall" >= 0.9)
      .orderBy($"query_id")
  }
  val q362Sql: String =
    s"""WITH $cembCte,
      |${nngEdgeCtesP("", "TRUE", "cemb")},
      |${nngSearchCtesP("", "vec_id < 8", "edges", rounds = 5, beam = 16,
         nEntries = 8, tbl = "cemb")},
      |bf AS MATERIALIZED (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ROUND(${cosSql("q.embedding", "c.embedding")}, 6) DESC,
      |        c.vec_id) AS rank
      |    FROM cemb q JOIN cemb c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |  WHERE rank <= 5),
      |gr AS (
      |  SELECT query_id, node AS neighbor_id FROM (
      |    SELECT query_id, node, sim,
      |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |    FROM v5 WHERE node <> query_id)
      |  WHERE rank <= 5),
      |hits AS (
      |  SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |  FROM bf b JOIN gr g
      |    ON b.query_id = g.query_id AND b.neighbor_id = g.neighbor_id
      |  GROUP BY 1),
      |per AS (
      |  SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(COALESCE(MAX(h.n_hits), 0) AS BIGINT) AS n_hits
      |  FROM bf b LEFT JOIN hits h ON b.query_id = h.query_id
      |  GROUP BY 1),
      |m AS (SELECT CAST(SUM(n_hits) AS DOUBLE) / SUM(k) AS mean_recall FROM per)
      |SELECT query_id, k, n_hits,
      |  CAST(n_hits AS DOUBLE) / k AS recall, mean_recall,
      |  mean_recall >= 0.9 AS meets_target
      |FROM per CROSS JOIN m
      |ORDER BY query_id""".stripMargin

  // --- q361: streaming neighbor-graph ingest (append per micro-batch) ------
  // q201's contract for the GRAPH index: the 2% holdout arrives as a
  // TWO-file backlog drained with maxFilesPerTrigger=1 (mtimes stamped
  // two minutes apart - the file source drains oldest-first, so the
  // batch order is deterministic), and each micro-batch is absorbed by
  // NeighborGraph.append through a checkpointed foreachBatch. Unlike the
  // IVF twin, batch ORDER is semantic here: batch B's insertion search
  // walks the edges batch A appended (HNSW insertion is sequential by
  // nature), so the oracle chains THREE unrolled searches - insertion A
  // over the base edges, insertion B over base + A's links, then the
  // 8-probe serve over the fully augmented relation. A boundary that
  // reordered, merged, or dropped a batch hash-misses.
  private def nngStreamIngest(s: SparkSession, d: String): java.nio.file.Path =
    graft.Stage.derived("nng_stream_ingest_v", d) { p =>
      val emb = Tables.embeddings(s, d)
      graft.sources.NeighborGraph.build(emb.filter(col("vec_id") % 50 =!= 7),
        s"$p/graph", m = 12, numTables = 6, planesPerTable = 5, nBuckets = 16)
      def listDelta(): Set[java.nio.file.Path] = {
        val dir = java.nio.file.Paths.get(s"$p/delta")
        val st = java.nio.file.Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(
            _.getFileName.toString.endsWith(".parquet")).toSet
        } finally st.close()
      }
      def stamp(files: Set[java.nio.file.Path], epochMs: Long): Unit =
        files.foreach(f => java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(epochMs)))
      val t0 = System.currentTimeMillis() - 600000
      emb.filter(col("vec_id") % 100 === 7).coalesce(1)
        .write.mode("append").parquet(s"$p/delta")
      val batchA = listDelta()
      stamp(batchA, t0)
      emb.filter(col("vec_id") % 100 === 57).coalesce(1)
        .write.mode("append").parquet(s"$p/delta")
      stamp(listDelta() -- batchA, t0 + 120000)
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$p/delta")
      graft.streaming.Streams.drainBatches(stream, s"$p/ckpt") { (batch, _) =>
        graft.sources.NeighborGraph.append(s, s"$p/graph", batch, emb,
          m = 12, beamWidth = 16, rounds = 5, nBuckets = 16, nEntries = 8,
          bulkHint = Some(false)) // micro-batches are bounded by source
      }
    }

  def q361(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    graft.sources.NeighborGraph.beamSearch(s,
        s"${nngStreamIngest(s, d)}/graph",
        emb.filter($"vec_id" < 8), emb, k = 5, beamWidth = 16, rounds = 5,
        nBuckets = 16, nEntries = 8)
      .orderBy($"query_id", $"rank")
  }
  val q361Sql: String = {
    def fwd(p: String): String =
      s"""SELECT query_id AS src, node AS dst, sim FROM (
        |    SELECT query_id, node, sim,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
        |    FROM ${p}v5)
        |  WHERE rank <= 12""".stripMargin
    s"""WITH ${nngEdgeCtesW("vec_id % 50 <> 7")},
      |${nngSearchCtesW("a", "vec_id % 100 = 7", "edges")},
      |afwd AS MATERIALIZED (
      |  ${fwd("a")}),
      |aug1 AS MATERIALIZED (
      |  SELECT src, dst, sim FROM edges
      |  UNION ALL SELECT src, dst, sim FROM afwd
      |  UNION ALL SELECT dst, src, sim FROM afwd),
      |${nngSearchCtesW("b", "vec_id % 100 = 57", "aug1")},
      |bfwd AS MATERIALIZED (
      |  ${fwd("b")}),
      |aug2 AS MATERIALIZED (
      |  SELECT src, dst, sim FROM aug1
      |  UNION ALL SELECT src, dst, sim FROM bfwd
      |  UNION ALL SELECT dst, src, sim FROM bfwd),
      |${nngSearchCtesW("p", "vec_id < 8", "aug2")}
      |SELECT query_id, neighbor_id, rank, sim FROM (
      |  SELECT query_id, node AS neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, node) AS rank
      |  FROM pv5 WHERE node <> query_id)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  }

  // --- q358: metadata-filtered graph ANN search ----------------------------
  // The most common real vector-store operation: top-k among vectors
  // whose metadata matches a predicate. Post-filtering the unfiltered
  // top-k under-returns (k rows in, k*selectivity out — the spec proves
  // the gap); the correct form is filtered expansion: the WALK stays
  // unfiltered (navigation routes through non-matching nodes, or a
  // selective predicate disconnects the graph), and the ANSWER ranks the
  // whole visited set restricted to the predicate. Two arms gate both
  // regimes in one query: 'sel' (label = 3 AND odd id, ~5% selectivity)
  // and 'broad' (label <> 3, ~90%). The oracle shares ONE unrolled walk
  // (the filter cannot touch the trajectory) and applies each predicate
  // at the final ranking - a search that filtered too early or too late
  // hash-misses.
  def q358(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter($"vec_id" < 8)
    // both arms share ONE walk (the filter cannot touch the trajectory)
    graft.sources.NeighborGraph.beamSearchWhereArms(s, nngIdx(s, d).toString,
        queries, emb, Seq(
          ("sel", emb.filter($"label" === 3 && $"vec_id" % 2 === 1)
            .select($"vec_id")),
          ("broad", emb.filter($"label" =!= 3).select($"vec_id"))),
        k = 5, beamWidth = 16, rounds = 5, nBuckets = 16, nEntries = 8)
      .select($"arm", $"query_id", $"neighbor_id", $"rank", $"sim")
      .orderBy($"arm", $"query_id", $"rank")
  }
  val q358Sql: String = {
    def armSql(arm: String, pred: String): String =
      s"""SELECT arm, query_id, neighbor_id, rank, sim FROM (
        |  SELECT '$arm' AS arm, v.query_id, v.node AS neighbor_id, v.sim,
        |    ROW_NUMBER() OVER (PARTITION BY v.query_id
        |      ORDER BY v.sim DESC, v.node) AS rank
        |  FROM v5 v JOIN embeddings me ON me.vec_id = v.node
        |  WHERE v.node <> v.query_id AND ($pred))
        |WHERE rank <= 5""".stripMargin
    s"""WITH $nngEdgeCtes,
      |$nngSearchCtes
      |${armSql("sel", "me.label = 3 AND me.vec_id % 2 = 1")}
      |UNION ALL
      |${armSql("broad", "me.label <> 3")}
      |ORDER BY arm, query_id, rank""".stripMargin
  }

  // --- q359: metadata-filtered IVF-PQ ADC probe -----------------------------
  // q358's contract on the OTHER index family: the predicate gates the
  // probed cells' codes BEFORE ADC scoring (a semi-join against the
  // metadata scan), so the ranking sees every admissible candidate in
  // the probed cells instead of filtering k already-ranked rows.
  // Partition pruning is untouched - cells come from the query. Same two
  // arms; the oracle is the q141 restatement with the predicate joined
  // into the candidate set.
  def q359(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter($"vec_id" < 8)
    // both arms share one layout read / probe-cell selection / ADC LUT
    graft.sources.VectorIndex.probeTopKArms(s, vecIdx(s, d).toString,
        queries, m = 4, k = 5, nprobe = 3, arms = Seq(
          ("sel", Some(emb.filter($"label" === 3 && $"vec_id" % 2 === 1)
            .select($"vec_id"))),
          ("broad", Some(emb.filter($"label" =!= 3).select($"vec_id")))))
      .select($"arm", $"query_id", $"neighbor_id", $"rank", $"adist")
      .orderBy($"arm", $"query_id", $"rank")
  }
  val q359Sql: String = {
    def armSql(arm: String, pred: String): String =
      s"""SELECT arm, query_id, neighbor_id, rank, adist FROM (
        |  SELECT '$arm' AS arm, query_id, neighbor_id, adist,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY adist ASC, neighbor_id) AS rank
        |  FROM (
        |    SELECT p.query_id, k.vec_id AS neighbor_id,
        |      CAST(SUM(CAST(l.dist AS DECIMAL(18,6))) AS DOUBLE) AS adist
        |    FROM codes k
        |    JOIN cells ce ON k.vec_id = ce.vec_id
        |    JOIN probes p ON ce.cell = p.cell
        |    JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub AND l.cw = k.cw
        |    JOIN embeddings fm ON fm.vec_id = k.vec_id
        |    WHERE k.vec_id <> p.query_id AND ($pred)
        |    GROUP BY 1, 2))
        |WHERE rank <= 5""".stripMargin
    s"""WITH emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e, len(embedding) AS d FROM embeddings
      |), kc0 AS (SELECT vec_id AS cell, e AS c FROM emb ORDER BY vec_id LIMIT 8),
      |ka0 AS (${kmAssign("kc0")}),
      |kc1 AS (${kmUpdate("ka0")}),
      |cells AS (SELECT vec_id, cell FROM (${kmAssign("kc1")}) t),
      |$pqCtes,
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT q.vec_id AS query_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ${sqd("q.e", "c.c")} ASC, c.cell ASC) AS crank
      |    FROM emb q CROSS JOIN kc1 c WHERE q.vec_id < 8)
      |  WHERE crank <= 3
      |)
      |${armSql("sel", "fm.label = 3 AND fm.vec_id % 2 = 1")}
      |UNION ALL
      |${armSql("broad", "fm.label <> 3")}
      |ORDER BY arm, query_id, rank""".stripMargin
  }

  def pack: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q341_nng_build", q341 _, Some(q341Sql)),
    ("q342_nng_search", q342 _, Some(q342Sql)),
    ("q343_nng_recall", q343 _, Some(q343Sql)),
    ("q345_nng_append", q345 _, Some(q345Sql)),
    ("q346_nng_append_probe", q346 _, Some(q346Sql)),
    ("q347_nng_delete_audit", q347 _, Some(q347Sql)),
    ("q348_nng_delete_probe", q348 _, Some(q348Sql)),
    ("q351_nng_maintenance", q351 _, Some(q351Sql)),
    ("q353_nng_compact_audit", q353 _, Some(q353Sql)),
    ("q354_nng_compact_probe", q354 _, Some(q354Sql)),
    ("q355_nng_hier_probe", q355 _, Some(q355Sql)),
    ("q356_nng_budget_recall", q356 _, Some(q356Sql)),
    ("q357_nng_bulk_knn", q357 _, Some(q357Sql)),
    ("q358_nng_filtered_search", q358 _, Some(q358Sql)),
    ("q359_ivfpq_filtered_probe", q359 _, Some(q359Sql)),
    ("q360_nng_repair_probe", q360 _, Some(q360Sql)),
    ("q361_nng_stream_ingest", q361 _, Some(q361Sql)),
    ("q362_nng_clustered_recall", q362 _, Some(q362Sql)),
    ("q271_pca_power_iteration", q271 _, Some(q271Sql)),
    ("q320_matryoshka_recall", q320 _, Some(q320Sql)),
    ("q321_cluster_quality", q321 _, Some(q321Sql)),
    ("q50_knn_bruteforce", q50 _, Some(q50Sql)),
    ("q51_vector_stats", q51 _, Some(q51Sql)),
    ("q52_centroids", q52 _, Some(q52Sql)),
    ("q53_knn_ivf", q53 _, Some(q53Sql)),
    ("q54_lsh_pairs", q54 _, Some(q54Sql)),
    ("q56_semantic_dedup", q56 _, Some(q56Sql)),
    ("q57_quantize_int8", q57 _, Some(q57Sql)),
    ("q122_kmeans_train", q122 _, Some(q122Sql)),
    ("q130_knn_label_vote", q130 _, Some(q130Sql)),
    ("q55_multimodal_decode", q55 _, Some(q55Sql)),
    ("q85_frame_features", q85 _, Some(q85Sql)),
    ("q86_media_resize", q86 _, Some(q86Sql)),
    ("q135_margin_mining", q135 _, Some(q135Sql)),
    ("q136_pq_adc", q136 _, Some(q136Sql)),
    ("q138_kcenter_coreset", q138 _, Some(q138Sql)),
    ("q141_ivf_pq", q141 _, Some(q141Sql)),
    ("q168_ivfpq_indexed", q168 _, Some(q168Sql)),
    ("q194_vecidx_append", q194 _, Some(q194Sql)),
    ("q277_index_maintenance", q277 _, Some(q277Sql)),
    ("q279_mmr_rerank", q279 _, Some(q279Sql)),
    ("q295_frame_neardup", q295 _, Some(q295Sql)),
    ("q197_stream_ann_probe", q197 _, Some(q197Sql)),
    ("q201_stream_index_ingest", q201 _, Some(q201Sql)),
    ("q203_centroid_drift", q203 _, Some(q203Sql)),
    ("q215_ivf_cell_balance", q215 _, Some(q215Sql)),
    ("q176_rrf_fusion", q176 _, Some(q176Sql)),
    ("q178_classifier_eval", q178 _, Some(q178Sql)),
    ("q180_cohens_kappa", q180 _, Some(q180Sql)),
    ("q181_ann_recall", q181 _, Some(q181Sql)),
    ("q309_ivfpq_recall", q309 _, Some(q309Sql)),
    ("q310_wav_decode", q310 _, Some(q310Sql)),
    ("q329_bmp_decode", q329 _, Some(q329Sql)),
    ("q331_lsh_recall", q331 _, Some(q331Sql)),
    ("q339_semantic_threshold_curve", q339 _, Some(q339Sql)),
    ("q314_recall_curve", q314 _, Some(q314Sql)),
    ("q207_ndcg_eval", q207 _, Some(q207Sql)),
    ("q208_auc_eval", q208 _, Some(q208Sql)),
    ("q182_jl_projection", q182 _, Some(q182Sql)),
    ("q184_hard_negatives", q184 _, Some(q184Sql)))
}
