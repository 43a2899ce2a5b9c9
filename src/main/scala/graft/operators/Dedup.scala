package graft.operators

import graft.CacheLifecycle.TrackedPersistOps
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._

/** Document deduplication operators — exact and near-duplicate.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is a fingerprint groupBy — one shuffle on a 128-bit key,
  *    perfectly partitionable, no skew beyond true duplicate clusters.
  *  - Near-dup detection is MinHash + LSH banding: candidate generation is
  *    a self-join on (band, bandHash) — documents only meet if they collide
  *    in some band, so the join fan-out is |near-dup clusters|, not n².
  *    Signatures (64 longs) travel through the shuffle, not documents; the
  *    shingle arrays are re-attached only to surviving candidate pairs.
  *  - Pathological buckets (boilerplate colliding everywhere) would skew a
  *    band bucket; the band self-join routes through
  *    [[Skew.hybridBucketPairs]], which sends any bucket past
  *    `skewMaxBucket` rows down the fragment-replicate path — exact pairs
  *    with per-shuffle-key work capped at chunkSize².
  */
object Dedup {

  /** Exact dedup: first doc (lowest orderCol) per normalized-text
    * fingerprint survives. Returns the input plus (fp, n_copies, keep). */
  def exact(docs: DataFrame, textCol: Column, orderCol: Column): DataFrame = {
    val byFp = Window.partitionBy(col("fp")).orderBy(orderCol)
    docs.withColumn("fp", fingerprint(textCol))
      .withColumn("n_copies", count(lit(1)).over(byFp.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("keep", row_number().over(byFp) === 1)
  }

  /** Near-duplicate pairs (idA < idB) with exact Jaccard ≥ threshold over
    * distinct k-word shingles, candidates from MinHash-LSH banding.
    *
    * 64 permutations in 32 bands × 2 rows: P[candidate] = 1-(1-j²)³²,
    * ≈ 1 - 4e-10 at j = 0.7 — recall is effectively exact at and above any
    * threshold ≥ 0.6, so the output is oracle-checkable against a
    * brute-force SQL oracle.
    */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.6,
      numPerm: Int = 64, bands: Int = 32,
      skewMaxBucket: Int = 4096, skewChunk: Int = 1024,
      eagerSkewProbe: Boolean = false): DataFrame = {
    val rowsPerBand = numPerm / bands
    // Duplicate shingles are absorbed by the aggregations below: MIN is
    // duplicate-blind and collect_set dedups inside the agg hash map, so no
    // separate distinct() shuffle is needed. Jaccard verification runs on
    // the shingle hashes (collision odds within a pair's union ~1e-59 —
    // far below any other error source). Persisted (doc_id, h) longs —
    // ~16 bytes/shingle, far smaller than the text — feed both the
    // signature agg and the verification-set agg; LRU-evicted, no caller
    // lifecycle.
    val shingleRows = shingleHashRows(docs, idCol, textCol, k).persistTracked()

    // The signature agg stays PURE codegen: 64 MIN longs run as a
    // partial+final HashAggregate with map-side combine. Round 2 rode
    // collect_set in the same aggregation; a TypedImperativeAggregate in
    // the agg list demotes the whole operator to ObjectHashAggregate, so
    // the 64 MINs paid object-mode prices (measured ~5x at sf0.1) and
    // every doc built its shingle set whether or not it ever met a
    // candidate.
    val sigCols = (0 until numPerm).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    val sketches = shingleRows.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)

    val bandCols = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(lit(b) +: slice: _*).as("bh"))
    }
    val banded = sketches
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))

    // Hybrid band self-join: plain per-bucket pairs normally, the
    // fragment-replicate path for any bucket over skewMaxBucket rows
    // (boilerplate shingle sets colliding into one band bucket).
    val candidates = Skew.hybridBucketPairs(banded, Seq("band", "bh"),
        "doc_id", skewMaxBucket, skewChunk, eagerProbe = eagerSkewProbe)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()
      .persistTracked()

    exactJaccardRerank(shingleRows, candidates, threshold)
  }

  /** Exact-Jaccard verification of a candidate pair set against per-doc
    * shingle hashes — the rerank tail of [[nearDuplicatePairs]], shared
    * with the streaming candidate generator
    * ([[graft.streaming.Streams.streamingNearDupCandidates]]).
    *
    * Exact shingle sets are built ONLY for documents that appear in a
    * candidate pair: a semi-join on candidate doc ids gates the
    * collect_set, so the object-mode agg state is proportional to
    * |candidate docs| ≪ corpus — the 100 TB shape. AQE broadcasts the
    * candidate side of the semi-join and verification joins when small. */
  private[graft] def exactJaccardRerank(shingleRows: DataFrame,
      candidates: DataFrame, threshold: Double): DataFrame = {
    val candDocs = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id")))
      .distinct()
    val sets = shingleRows.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(collect_set(col("h")).as("sh"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Word-n-gram shingles hashed to 64 bits, one row per (doc, shingle)
    * occurrence. Shingling via posexplode + lead() windows — fully
    * codegen'd; the array-valued alternatives are 3-20x slower
    * (array_distinct is O(tokens²) interpreted string compares, and a
    * transform() lambda is an interpreted HOF at ~ms/doc). Only longs
    * travel downstream. */
  private[graft] def shingleHashRows(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tokRows = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withLeads = (1 until k).foldLeft(tokRows)((df, i) =>
      df.withColumn(s"t$i", lead(col("tok"), i).over(wOrd)))
    val shingleCols = col("tok") +: (1 until k).map(i => col(s"t$i"))
    withLeads
      .filter(col(s"t${k - 1}").isNotNull)
      .select(col("doc_id"), xxhash64(concat_ws(" ", shingleCols: _*)).as("h"))
  }

  /** Exact word-n-gram Jaccard similarity join via prefix filtering
    * (the PPJoin family, Xiao et al., WWW 2008): documents are candidates
    * only if they share a shingle in each other's rarest-first prefix.
    *
    * Unlike MinHash-LSH banding (probabilistic recall), prefix filtering is
    * LOSSLESS: jaccard(a,b) ≥ t implies an overlap of at least ⌈t·|s|⌉ per
    * set, so each set must hit its (|s| − ⌈t·|s|⌉ + 1)-prefix of any global
    * gram order — recall is a theorem, not a probability, which is what
    * makes the operator exactly checkable against a brute-force oracle.
    *
    * Scale shape: shingles travel as 64-bit hashes; the global order is
    * (corpus frequency, hash), so prefixes hold each document's RAREST
    * shingles and the candidate self-join on a prefix shingle has posting
    * lists of the low-frequency tail, not the head (word shingles are
    * near-unique across documents — char grams would be far too dense for
    * this filter). The size predicate t·|a| ≤ |b| ≤ |a|/t (also lossless)
    * prunes before the pair dedup. All joins shuffle on shingle/doc keys —
    * no broadcast of the corpus.
    */
  def ngramJaccardJoin(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      skewMaxBucket: Int = 4096, skewChunk: Int = 1024,
      eagerSkewProbe: Boolean = false): DataFrame = {
    val grams = shingleHashRows(docs, idCol, textCol, n)
      .withColumnRenamed("h", "g")
      .distinct()
      .persistTracked()

    val gramFreq = grams.groupBy("g").agg(count(lit(1)).as("gf"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = grams.join(gramFreq, "g")
      .withColumn("sz", count(lit(1)).over(wDoc))
      .withColumn("rn", row_number().over(wDoc.orderBy(col("gf"), col("g"))))
    // ⌈t·|s|⌉ is computed with a small guard against the double product
    // rounding UP across an integer boundary, which would shorten the
    // prefix one slot below the lossless bound. For the thresholds in use
    // the product happens to round down-or-exact, so this is defensive —
    // but a caller-supplied t where fl(t·sz) lands just above an integer
    // would silently lose threshold-exact pairs without it. Erring low is
    // always safe: it only lengthens the prefix (extra candidates, same
    // verified result).
    // Persisted: the hot-bucket probe and both candidate-join sides read
    // the prefix (round 3 recomputed the doc_id ranking window once per
    // join side).
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - 1e-6) + 1)
      .select(col("doc_id"), col("g"), col("sz"), col("gf"))
      .persistTracked()

    // Skew routing for the prefix self-join: rarest-first ordering keeps
    // posting lists on the low-frequency tail NORMALLY, but a corpus with a
    // pathological shared gram (boilerplate in every doc, so even the
    // rarest grams are corpus-wide) would put one gram's whole prefix
    // bucket on one reducer. A prefix bucket can exceed skewMaxBucket only
    // if the gram's CORPUS frequency does (bucket ⊆ posting list), and gf
    // is already computed for the prefix order — a free, lossless hot-gram
    // prescreen. Exact bucket counts are aggregated only over the
    // prescreened slice (normally empty) and broadcast back, so the COLD
    // path is the plain prefix self-join with zero added exchanges, and hot
    // grams go through the fragment-replicate cell join with per-shuffle-key
    // pair work capped at ~skewChunk². The lossless size band
    // t·|a| ≤ |b| ≤ |a|/t rides along as pair payload and prunes before the
    // candidate dedup, same position as round 3's in-join predicate.
    val hotGrams = prefix.filter(col("gf") > skewMaxBucket)
      .groupBy("g").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > skewMaxBucket)
      .select(col("g"), Skew.nChunks(col("__bn"), skewChunk).as("__nc"))
    val rawPairs =
      if (eagerSkewProbe && hotGrams.isEmpty)
        Skew.plainPairs(prefix.drop("gf"), Seq("g"), "doc_id", Seq("sz"))
      else {
        val cold = Skew.plainPairs(
          prefix.join(broadcast(hotGrams), Seq("g"), "left_anti").drop("gf"),
          Seq("g"), "doc_id", Seq("sz"))
        val hot = Skew.fragmentPairs(
          prefix.join(broadcast(hotGrams), Seq("g")).drop("gf"),
          Seq("g"), "doc_id", Seq("sz"), "__nc")
        cold.unionByName(hot)
      }
    val candidates = rawPairs
      .filter(col("sz_b") >= col("sz_a") * threshold &&
        col("sz_a") >= col("sz_b") * threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()
      .persistTracked()

    // Same candidate-gating as nearDuplicatePairs: the object-mode
    // collect_set builds sets only for docs that survived the prefix
    // filter, not the whole corpus.
    val candDocs = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id")))
      .distinct()
    val sets = grams.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(collect_set(col("g")).as("gs"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("gs").as("gs_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("gs").as("gs_b")), "doc_b")
      .withColumn("jaccard", jaccard(col("gs_a"), col("gs_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Asymmetric set-CONTAINMENT join: probe documents whose n-gram set is
    * ≥`threshold` contained in some corpus document's set —
    * |g(a) ∩ g(b)| / |g(a)| ≥ t. Containment (not Jaccard) is the right
    * predicate for subsumption dedup: a short doc pasted inside a longer
    * one scores containment 1.0 but arbitrarily low Jaccard, so a
    * similarity join misses exactly the quote/boilerplate-inclusion cases
    * a curation pipeline wants to catch.
    *
    * Same lossless prefix-filter theorem as [[ngramJaccardJoin]], applied
    * one-sided: overlap ≥ ⌈t·|a|⌉ forces a hit within a's
    * (|a| − ⌈t·|a|⌉ + 1)-prefix of ANY fixed global gram order — so only
    * the PROBE side is prefix-reduced, while the corpus side keeps full
    * posting lists (a container has no size upper bound; the one lossless
    * corpus-side prune is |b| ≥ t·|a|, left to the verify step since it
    * needs both sizes). Rarest-first order (corpus frequency, hash) keeps
    * the joined posting lists on the low-frequency tail; probe grams
    * absent from the corpus sort first and match nothing, wasting no
    * candidates. Exact verification gated to candidate docs only, as in
    * the Jaccard form.
    */
  def containmentJoin(probe: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8,
      skewMaxBucket: Int = 4096, skewChunk: Int = 1024,
      eagerSkewProbe: Boolean = false,
      probeIsCorpusWhere: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val gb = shingleHashRows(corpus, idCol, textCol, n)
      .withColumnRenamed("h", "g").distinct().persistTracked()
    // When the probe is a SLICE of the corpus (the common "new batch vs
    // everything" call, q113's shape), its gram set is exactly the
    // corpus's filtered by the slice predicate on doc_id — shingling is
    // per-document, so filter commutes with tokenize/shingle/distinct.
    // Deriving it from the persisted corpus grams skips the probe's whole
    // tokenize + window + distinct pipeline (the operator's second-
    // largest kernel; ~probe-fraction of the corpus pass at any scale).
    // The caller asserts slice-ness by passing the predicate; results are
    // identical by the commutation above.
    val ga = (probeIsCorpusWhere match {
      case Some(pred) => gb.filter(pred)
      case None => shingleHashRows(probe, idCol, textCol, n)
        .withColumnRenamed("h", "g").distinct()
    }).persistTracked()

    val freq = gb.groupBy("g").agg(count(lit(1)).as("gf"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = ga.join(freq, Seq("g"), "left")
      .withColumn("sz", count(lit(1)).over(wDoc))
      .withColumn("rn", row_number().over(
        wDoc.orderBy(col("gf").asc_nulls_first, col("g"))))
    // same defensive ⌈t·|a|⌉ rounding guard as ngramJaccardJoin — see the
    // comment there
    // Persisted: the hot-gram probe and both routed-join branches read it.
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - 1e-6) + 1)
      .select(col("doc_id").as("doc_a"), col("g"), col("gf"))
      .persistTracked()

    // Skew routing for the probe-prefix ⋈ corpus-posting-list join: this
    // operator's actual use case is CROSS-corpus subsumption, where a gram
    // rare in the probe batch can be hot in the corpus — a plain gram join
    // would put that gram's full posting list on one reducer. gf IS the
    // exact corpus posting-list length (already computed for the prefix
    // order), and the probe-side bucket sizes come from one aggregate over
    // the (small) probe prefix — so hotness on EITHER side (per-key join
    // work is pn·gf) is detected without touching the corpus again. The
    // tiny hot list broadcasts back: the cold path is the plain gram join
    // with zero added exchanges; hot grams go through the two-sided
    // fragment-replicate cell join — probe rows hash-chunk on their axis
    // and replicate across the corpus chunk axis and vice versa, so each
    // (g, kl, kr) shuffle key carries ≤ ~skewChunk² work and every pair
    // meets in exactly one cell.
    val hotGrams = prefix
      .groupBy("g").agg(count(lit(1)).as("__pn"), max(col("gf")).as("__gf"))
      .filter(col("__gf").isNotNull &&
        (col("__pn") > skewMaxBucket || col("__gf") > skewMaxBucket))
      .select(col("g"), Skew.nChunks(col("__pn"), skewChunk).as("__ncl"),
        Skew.nChunks(col("__gf"), skewChunk).as("__ncr"))
    val corpusRows = gb.select(col("doc_id").as("doc_b"), col("g"))
    val rawPairs =
      if (eagerSkewProbe && hotGrams.isEmpty)
        prefix.drop("gf").join(corpusRows, Seq("g"))
      else {
        val cold = prefix.join(broadcast(hotGrams), Seq("g"), "left_anti")
          .drop("gf")
          .join(corpusRows.join(broadcast(hotGrams), Seq("g"), "left_anti"),
            Seq("g"))
        val pHot = prefix.join(broadcast(hotGrams), Seq("g")).drop("gf")
          .withColumn("__kl",
            pmod(xxhash64(col("doc_a")), col("__ncl").cast("long")).cast("int"))
          .withColumn("__kr", explode(sequence(lit(0), col("__ncr") - 1)))
          .drop("__ncl", "__ncr")
        val bHot = corpusRows.join(broadcast(hotGrams), Seq("g"))
          .withColumn("__kr",
            pmod(xxhash64(col("doc_b")), col("__ncr").cast("long")).cast("int"))
          .withColumn("__kl", explode(sequence(lit(0), col("__ncl") - 1)))
          .drop("__ncl", "__ncr")
        cold.unionByName(
          pHot.join(bHot, Seq("g", "__kl", "__kr")).drop("__kl", "__kr"))
      }
    val candidates = rawPairs
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
      .persistTracked()

    val setsA = ga.join(candidates.select(col("doc_a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(collect_set(col("g")).as("gs"))
    val setsB = gb.join(candidates.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(collect_set(col("g")).as("gs"))
    candidates
      .join(setsA.select(col("doc_id").as("doc_a"), col("gs").as("gs_a")), "doc_a")
      .join(setsB.select(col("doc_id").as("doc_b"), col("gs").as("gs_b")), "doc_b")
      .withColumn("containment",
        size(array_intersect(col("gs_a"), col("gs_b"))) * lit(1.0) / size(col("gs_a")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Winnowing fingerprint sketch (Schleimer/Wilkerson/Aiken, SIGMOD 2003):
    * per document, hash every k-token shingle (md5-prefix, so the oracle
    * can state the identical hash), then keep the minimum hash of each
    * sliding window of `w` consecutive shingles. Guarantees any shared run
    * of ≥ w+k-1 tokens between two documents shares a fingerprint, at
    * ~1/w the full shingle-set size. Returns distinct (doc_id, fp).
    *
    * Plumbing is posexplode + a windowed MIN — one shuffle on doc_id, all
    * codegen; the window hash is a hex string so MIN is lexicographic in
    * both engines. */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    // positional shingles via posexplode + lead() (codegen) — winnowing
    // needs ordered runs, so no distinct until after the window minimum
    val tokRows = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withLeads = (1 until k).foldLeft(tokRows)((df, i) =>
      df.withColumn(s"t$i", lead(col("tok"), i).over(wOrd)))
    val shingleCols = col("tok") +: (1 until k).map(i => col(s"t$i"))
    val shingled = withLeads
      .filter(col(s"t${k - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        substring(md5(concat_ws(" ", shingleCols: _*)), 1, 16).as("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    shingled
      .select(col("doc_id"), min(col("h")).over(byDoc).as("fp"))
      .distinct()
  }

  /** Exact duplicate-span statistics — the positional form of exact
    * substring dedup (Lee et al. 2022, arXiv:2107.06499, re-expressed
    * relationally; cf. /root/repo/PAPERS.md): every k-token span is
    * fingerprinted with its 1-based position, spans appearing in ≥ 2
    * distinct documents are duplicated training signal, and each document
    * reports its gram count, duplicated-gram count and ratio, and first
    * duplicated position — the inputs to span-level removal.
    *
    * Scale: grams shuffle once on a bounded 16-hex fingerprint key, the
    * flag join reuses the same exchange, the per-doc rollup shuffles on
    * doc_id — linear in corpus grams, no all-pairs product (the property
    * that makes the suffix-array original scale too).
    */
  def duplicateSpanStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    val grams = docs
      .withColumn("toks", tokens(col(textCol)))
      .filter(size(col("toks")) >= k)
      .select(col(idCol).as("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(k))))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        substring(md5(col("col")), 1, 16).as("fp"))
    val dupFps = grams.groupBy(col("fp"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("fp"))
    grams.join(dupFps.withColumn("is_dup", lit(1)), Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_dup"), lit(0))).as("n_dup_grams"),
        (sum(coalesce(col("is_dup"), lit(0))) * lit(1.0) / count(lit(1)))
          .as("dup_ratio"),
        min(when(col("is_dup") === 1, col("pos"))).as("first_dup_pos"))
  }

  /** Exact substring-dedup with span REMOVAL — the action step completing
    * [[duplicateSpanStats]]'s detection (Lee et al. 2022, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better",
    * re-expressed relationally; cf. PAPERS.md): every k-token span
    * appearing in ≥ 2 distinct documents keeps its occurrence in ONE
    * canonical document (the smallest doc_id containing the span — a
    * deterministic, engine-portable choice) and is removed everywhere
    * else; surviving tokens are reassembled in original order. A token is
    * removed when ANY duplicated non-canonical span covers it, so
    * overlapping duplicated regions excise as one contiguous cut, like the
    * suffix-array original.
    *
    * Returns (doc_id, text, n_kept, n_removed). Documents shorter than k
    * tokens carry no spans and pass through intact; documents whose every
    * token is covered drop out (mirroring [[removeBoilerplateLines]]).
    *
    * Scale: grams shuffle once on a bounded 16-hex fingerprint; the
    * duplicated-span table (fp, canon) reuses that exchange; coverage
    * explodes duplicated starts ×k (k small, linear) and dedups on
    * doc-prefixed (doc_id, tp); the anti join and reassembly shuffle on
    * doc_id. Linear in corpus grams end-to-end — no all-pairs product, the
    * property that lets the suffix-array algorithm scale and that this
    * relational restatement preserves.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    // one explode serves both the token table and the gram table: grams
    // are built with lead() windows over the exploded rows (codegen'd),
    // not array HOFs (interpreted — measured 4x slower, PLANS.md r6)
    val toks = docs
      .select(col(idCol).as("doc_id"), posexplode(tokens(col(textCol))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("tp"), col("tok"))
      .persistTracked()
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("tp"))
    val withLeads = (1 until k).foldLeft(toks)((df, i) =>
      df.withColumn(s"t$i", lead(col("tok"), i).over(wOrd)))
    // consumed twice (duplicate-span table + coverage join) — cache the
    // windowed gram rows rather than re-running the per-doc window
    val grams = withLeads
      .filter(col(s"t${k - 1}").isNotNull)
      .select(col("doc_id"), col("tp").as("pos"),
        substring(md5(concat_ws(" ",
          col("tok") +: (1 until k).map(i => col(s"t$i")): _*)), 1, 16).as("fp"))
      .persistTracked()
    val dup = grams.groupBy(col("fp"))
      .agg(count_distinct(col("doc_id")).as("nd"), min(col("doc_id")).as("canon"))
      .filter(col("nd") >= 2)
      .select(col("fp"), col("canon"))
    val covered = grams.join(dup, "fp")
      .filter(col("doc_id") =!= col("canon"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("tp"))
      .distinct()
    val total = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks"))
    toks.join(covered, Seq("doc_id", "tp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", array_sort(collect_list(struct(col("tp"), col("tok"))))
          .getField("tok")).as("text"))
      .join(total, "doc_id")
      .select(col("doc_id"), col("text"), col("n_kept"),
        (col("n_toks") - col("n_kept")).as("n_removed"))
  }

  /** Gopher line-level repetition rules (Rae et al. 2021, table A1 — the
    * line-granularity complement of the n-gram families in
    * queries.Text.q119): the fraction of a document's line occurrences
    * whose line value repeats within the document (duplicate line
    * fraction, Gopher threshold 0.30), and the fraction of its characters
    * inside those repeated lines (duplicate line character fraction,
    * threshold 0.20). `linesCol` is any pre-split array<string> column —
    * segmentation is the caller's choice (split on '\n' for real text;
    * the q123 oracle chunks the single-line testdata corpus into fixed
    * token windows so the statistics are non-degenerate).
    *
    * Scale: one explode and two keyed aggregations — (doc, line) then
    * (doc), both shuffling on doc-prefixed keys with map-side partials.
    * Linear in total line count, no joins, no all-pairs shapes.
    */
  def duplicateLineStats(docs: DataFrame, idCol: String, linesCol: Column,
      dupLineThreshold: Double = 0.30,
      dupCharThreshold: Double = 0.20): DataFrame =
    duplicateLineRowStats(
      docs.select(col(idCol).as("doc_id"), explode(linesCol).as("line")),
      dupLineThreshold, dupCharThreshold)

  /** Row form of [[duplicateLineStats]]: input is already one row per
    * (doc_id, line) occurrence. Callers whose segmentation is itself
    * relational (windowed chunking, sessionized transcripts) feed this
    * directly and skip materializing the per-doc array. */
  def duplicateLineRowStats(lineRows: DataFrame,
      dupLineThreshold: Double = 0.30,
      dupCharThreshold: Double = 0.20): DataFrame = {
    val lineFrac = col("dup_lines") / col("n_lines")
    val charFrac = col("dup_chars") / col("n_chars")
    lineRows
      .groupBy(col("doc_id"), col("line"))
      .agg(count(lit(1)).as("c"))
      .withColumn("chars", length(col("line")))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_lines"),
        sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as("dup_lines"),
        sum(col("c") * col("chars")).as("n_chars"),
        sum(when(col("c") >= 2, col("c") * col("chars")).otherwise(lit(0L)))
          .as("dup_chars"))
      .select(col("doc_id"), col("n_lines"), col("dup_lines"),
        lineFrac.as("dup_line_frac"),
        col("n_chars"), col("dup_chars"),
        charFrac.as("dup_char_frac"),
        (lineFrac > dupLineThreshold || charFrac > dupCharThreshold)
          .as("flagged"))
  }

  /** Corpus-level boilerplate line removal — the C4/RefinedWeb cleaning
    * rule (Raffel et al. 2020 §2.2; Penedo et al. 2023 line-wise filters;
    * cf. PAPERS.md): a line whose value occurs in ≥ `minDocs` DISTINCT
    * documents is boilerplate (nav chrome, cookie banners, license
    * headers) and is dropped from every document; surviving lines are
    * reassembled in original order. Input is one row per (doc_id, pos,
    * line) occurrence — the same row form [[duplicateLineRowStats]] takes;
    * `pos` is any per-doc monotone position. Documents whose every line is
    * boilerplate drop out of the result entirely.
    *
    * Returns (doc_id, text, n_kept, n_removed).
    *
    * Scale: the boilerplate set is ONE count-distinct shuffle on `line`;
    * membership is a left-anti join on the same key (AQE broadcasts it
    * when small — the common case — and it stays a linear hash join when
    * a pathological corpus makes it big); reassembly + the removal-count
    * join share one doc_id shuffle. No all-pairs shapes, no driver-side
    * state.
    */
  def removeBoilerplateLines(lineRows: DataFrame, minDocs: Int = 3,
      sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2; got $minDocs")
    val bp = lineRows.groupBy(col("line"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("line"))
    val perDoc = lineRows.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    lineRows.join(bp, Seq("line"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(sep,
          array_sort(collect_list(struct(col("pos"), col("line"))))
            .getField("line")).as("text"))
      .join(perDoc, "doc_id")
      .select(col("doc_id"), col("text"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_removed"))
  }

  /** Connected components over a near-duplicate pair graph by iterated
    * partition-local contraction: each round runs a union-find pass inside
    * every partition of the current (shrinking) rep graph, relabels the
    * residual edges through the merged reps, and drops self-loops. Each doc
    * adopts the smallest doc_id reachable through pair edges; the component
    * minimum becomes the canonical document (the row a dedup pipeline
    * keeps). Returns (doc_id, cluster_rep, is_canonical) for every doc in
    * ≥ 1 pair.
    *
    * Convergence: every round collapses each partition's whole visible
    * subgraph (not one hop), so the residual rep graph shrinks by roughly
    * the edges-per-partition factor per round — O(log) rounds even on
    * pathological chain graphs, 1-2 on real near-dup clusters, vs
    * O(component diameter) for plain min-label propagation. Per-partition
    * union-find state is bounded by the shuffle's partition sizing, the
    * same budget a sort-based aggregate gets. Every round's outputs are
    * eagerly localCheckpointed: rounds reference their inputs several
    * times, so lazy chaining would recompute exponentially (the classic
    * iterative-DataFrame trap) — and the first checkpoint also runs the
    * upstream candidate-pair pipeline exactly once. Each edge checkpoint
    * observes its own row count, which sizes the width and ends the loop
    * without a separate count or emptiness job.
    *
    * A graph within one task's edge budget contracts in ONE partition,
    * whose union-find has seen every edge: its roots are already the
    * component minima, so those stars are the answer, with no label
    * aggregation and no residual round.
    */
  def clusterPairs(pairs: DataFrame, maxIterations: Int = 40): DataFrame =
    clusterPairs(pairs, maxIterations, edgesPerTask = 1000000L)

  /** [[clusterPairs]] with the per-task edge budget that sizes the
    * contraction width as a parameter (specs shrink it to run the residual
    * rounds on small graphs). */
  private[graft] def clusterPairs(pairs: DataFrame, maxIterations: Int,
      edgesPerTask: Long): DataFrame = {
    import pairs.sparkSession.implicits._
    def contract(edges: DataFrame): DataFrame = edges
      .as[(Long, Long)]
      .mapPartitions(localMinReps)
      .toDF("node", "rep0")
    // an edge table checkpointed together with its observed row count
    def counted(edges: DataFrame): (DataFrame, Long) = {
      val rows = Observation()
      val cp = edges.observe(rows, count(lit(1)).as("n")).localCheckpoint(true)
      (cp, rows.get("n").asInstanceOf[Long])
    }

    // Size the contraction width from the measured edge count (~1M edge
    // tuples ≈ 16 MB of longs per union-find task — inside the per-task
    // state budget the scaladoc promises) instead of inheriting the
    // upstream width: a pair graph arriving in many near-empty partitions
    // (e.g. a filtered union) would otherwise pay one fixed task cost per
    // partition per round AND produce more cross-partition residual edges
    // (each extra partition seeing a node links another rep). The coalesce
    // is narrow — the upstream pipeline already materialized at full
    // parallelism via the checkpoint — and at large edge counts the width
    // is unchanged. Components are partitioning-invariant (the min-label
    // invariant), so the result is identical at any width.
    val (raw, nRaw) = counted(pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long")))
    val parentWidth = raw.rdd.getNumPartitions
    val width = math.max(1L, math.min(parentWidth.toLong,
      nRaw / edgesPerTask + 1)).toInt
    def result(labels: DataFrame): DataFrame =
      labels.select(col("doc_id"), col("rep").as("cluster_rep"),
        (col("doc_id") === col("rep")).as("is_canonical"))
    // Round 0 over the raw pairs: stars = (endpoint, partition-local rep).
    val local = contract(if (width < parentWidth) raw.coalesce(width) else raw)
    if (width == 1)
      return result(local.select(col("node").as("doc_id"), col("rep0").as("rep")))
    val stars0 = local.localCheckpoint(true)
    // labels: original node -> current best-known rep.
    var labels = stars0.groupBy("node").agg(min(col("rep0")).as("rep"))
      .withColumnRenamed("node", "doc_id")
      .localCheckpoint(true)
    // Residual edges: a node seen by several partitions links its local
    // reps; relabeling (node, rep0) through the node's global min rep and
    // dropping self-loops leaves exactly the cross-partition connectivity.
    var (edges, nEdges) = counted(stars0
      .join(labels.withColumnRenamed("doc_id", "node"), "node")
      .select(col("rep0").as("a"), col("rep").as("b"))
      .filter(col("a") =!= col("b")))
    var iter = 0
    while (nEdges > 0 && iter < maxIterations) {
      val stars = contract(edges).localCheckpoint(true)
      val repMap = stars.groupBy("node").agg(min(col("rep0")).as("newRep"))
        .localCheckpoint(true)
      // Pull every label one merge step down (reps not merged this round
      // are absent from repMap — coalesce keeps them). A within-round
      // cascade (r2 -> r1 while r1 -> r0) resolves next round: the residual
      // edge (r1, r0) survives relabeling below.
      labels = labels
        .join(repMap.withColumnRenamed("node", "rep"), Seq("rep"), "left")
        .select(col("doc_id"), coalesce(col("newRep"), col("rep")).as("rep"))
        .localCheckpoint(true)
      // Relabel both endpoints of the residual star edges through the
      // merged reps; self-loops vanish, so the rep graph strictly shrinks.
      val (next, n) = counted(stars
        .join(repMap, "node")
        .join(repMap.withColumnRenamed("node", "rep0")
          .withColumnRenamed("newRep", "rep0New"), "rep0")
        .select(col("rep0New").as("a"), col("newRep").as("b"))
        .filter(col("a") =!= col("b")))
      edges = next
      nEdges = n
      iter += 1
    }
    // The operator's contract is EXACT components — a capped-out loop would
    // silently emit wrong clusters (and a hash mismatch downstream nobody
    // can attribute). Fail loudly instead. (Contraction merges every
    // nonempty residual round, so the cap is a backstop, not a tuning.)
    if (nEdges > 0) throw new IllegalStateException(
      s"clusterPairs did not converge in $maxIterations iterations")
    result(labels)
  }

  /** Union-find with path compression over one partition's edges; emits
    * (node, partition-local min rep) for every endpoint seen. Min-rep
    * union keeps the invariant the global min-label loop relies on:
    * labels only ever decrease. */
  private def localMinReps(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    it.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = parent.keys.toArray
    nodes.iterator.map(n => (n, find(n)))
  }

  /** SimHash near-dup pairs (idA < idB) within `maxHamming` bits.
    * Candidates by banding the 56-bit sketch into its 7 bytes: two sketches
    * within hamming ≤ 6 must agree on at least one whole byte (pigeonhole),
    * so joining on (byteIndex, byteValue) has guaranteed recall for the
    * default radius. Byte extraction uses literal shifts unrolled in Scala
    * (the shift builtins only take literal amounts).
    *
    * The token hash is a 56-bit md5 prefix — engine-portable (md5 produces
    * the same hex in Spark and any SQL oracle, and 14 hex chars parse into
    * a positive 56-bit int on both sides), so the whole sketch is exactly
    * reproducible by the DuckDB correctness oracle. All downstream logic is
    * exact integer arithmetic: bit majorities, byte bands, XOR popcount. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6): DataFrame = {
    require(maxHamming <= 6, "byte-banding guarantees recall only to hamming 6")
    val nBits = 56
    // Sketch via explode + 56 conditional-count agg columns (codegen), not
    // the per-row nested-lambda simhash() — same value, ~50x faster at
    // scale. Token dedup happens at row level (array_distinct on a per-doc
    // array is O(tokens²) interpreted compares).
    val hashed = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 14), 16, 10).cast("long").as("h"))
      .distinct()
    val bitCols = (0 until nBits).map { kbit =>
      sum(when(col("h").bitwiseAND(lit(1L << kbit)) =!= 0L, 1).otherwise(0)).as(s"c$kbit")
    }
    val counted = hashed.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitCols: _*)
    val base = counted.select(col("doc_id"),
      (0 until nBits).map { kbit =>
        when(col(s"c$kbit") * 2 > col("n"), lit(1L << kbit)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_)).as("sh64"))
    val bandCols = (0 until 7).map(i => struct(
      lit(i).as("bpos"),
      shiftrightunsigned(col("sh64"), 8 * i).bitwiseAND(lit(255L)).as("bval")))
    // persisted: both sides of the self-join read it — without it Spark
    // recomputes the token-hash + 56-column sketch aggregation per side
    // (~2x the whole operator's cost). LRU-evicted, no caller lifecycle.
    val banded = base.select(col("doc_id"), col("sh64"),
      explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("sh64"),
        col("band.bpos").as("bpos"), col("band.bval").as("bval"))
      .persistTracked()
    banded.as("a")
      .join(banded.as("b"),
        col("a.bpos") === col("b.bpos") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh64").bitwiseXOR(col("b.sh64"))).as("hamming"))
      // filter BEFORE the pair-dedup shuffle: single-byte buckets collide
      // by chance, so candidates outnumber survivors ~100x
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
