package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-3 training-pipeline operators: decontamination,
  * repetition ratio, PII redaction, and semantic dedup — semantics the
  * oracle restates but doesn't explain (oracle failures say "hash differs",
  * these say which invariant broke). */
class TrainingSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private val sf = "/root/testdata/sf0.001"

  test("decontamination flags an exact holdout copy with hit_frac 1.0") {
    import spark.implicits._
    val holdout = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (2L, "alpha beta gamma delta epsilon"), // exact copy → frac 1.0
      (3L, "zeta eta theta iota kappa"), // disjoint → absent
      (4L, "alpha beta gamma lambda mu nu") // 1 of 4 grams shared
    ).toDF("doc_id", "text")
    val got = operators.Decontaminate.ngramOverlap(corpus, holdout, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set(2L, 4L), s"wrong contamination set: $got")
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(4L) == ((4L, 1L, 0.25)))
  }

  test("repetition ratio is 0 for unique grams and high for a looped doc") {
    import spark.implicits._
    val q36 = SparkEntry.queries("q36_repetition")
    val ratios = q36(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(ratios.nonEmpty)
    ratios.foreach { case (n, nd, ratio) =>
      assert(nd <= n && ratio >= 0.0 && ratio < 1.0)
      assert(math.abs(ratio - (n - nd).toDouble / n) < 1e-12)
    }
  }

  test("pii redaction removes every email and ip it counted") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at a.b-c_1@mail-host.org or 192.168.0.1 thanks"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io z@w.dev and 10.0.0.255 10.1.2.3")
    ).toDF("id", "s")
    val checked = df.select(col("id"),
      operators.Pii.emailCount(col("s")).as("ne"),
      operators.Pii.ipCount(col("s")).as("ni"),
      operators.Pii.emailCount(operators.Pii.redact(col("s"))).as("ne_after"),
      operators.Pii.ipCount(operators.Pii.redact(col("s"))).as("ni_after"),
      operators.Pii.redact(col("s")).as("red"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(checked(1L).getInt(1) == 1 && checked(1L).getInt(2) == 1)
    assert(checked(2L).getInt(1) == 0 && checked(2L).getInt(2) == 0)
    assert(checked(3L).getInt(1) == 2 && checked(3L).getInt(2) == 2)
    checked.values.foreach { r =>
      assert(r.getInt(3) == 0 && r.getInt(4) == 0,
        s"redacted text still matches: ${r.getString(5)}")
    }
    assert(checked(1L).getString(5).contains("<EMAIL>") &&
      checked(1L).getString(5).contains("<IP>"))
  }

  test("int8 quantization stays on the 8-bit grid with tiny reconstruction error") {
    val rows = SparkEntry.queries("q57_quantize_int8")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dim, maxQ, mse) = (r.getLong(1), r.getLong(2), r.getDouble(4))
      assert(maxQ == 127L, s"symmetric scale must peak at ±127, got $maxQ")
      assert(dim > 0 && mse >= 0.0)
      // worst-case per-element error is (0.5/scale)^2; scale ≥ 127/max|v|
      // keeps mse_ppm far below this loose structural bound
      assert(mse < 1e6, s"reconstruction error implausibly large: $mse ppm")
    }
  }

  test("duplicate-span stats flag exactly the cross-document spans") {
    import spark.implicits._
    // docs 1 and 2 share one 5-token window ("a b c d e", at positions 1
    // and 2 respectively); doc 3 is disjoint; doc 4 repeats a span WITHIN
    // itself only (self-repeats are not cross-document duplicates)
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d e"),
      (3L, "p q r s t u"),
      (4L, "m n o v w m n o v w")
    ).toDF("doc_id", "text")
    val got = operators.Dedup.duplicateSpanStats(docs, "doc_id", "text", k = 5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(4)) -1L else r.getInt(4).toLong)).toMap
    // doc 1: grams at pos 1,2 — "a b c d e" (dup) and "b c d e f"
    assert(got(1L)._1 == 2 && got(1L)._2 == 1 && got(1L)._3 == 1, s"doc1: ${got(1L)}")
    // doc 2: grams "x a b c d", "a b c d e"(dup at pos 2)
    assert(got(2L)._1 == 2 && got(2L)._2 == 1 && got(2L)._3 == 2, s"doc2: ${got(2L)}")
    assert(got(3L)._2 == 0 && got(3L)._3 == -1, s"doc3: ${got(3L)}")
    assert(got(4L)._2 == 0, s"doc4 self-repeat wrongly flagged: ${got(4L)}")
  }

  test("duplicate-line stats match Gopher's definitions on newline-split text") {
    import spark.implicits._
    // doc 1: 4 lines, "aa" twice (2+2+6+3=13 chars over lines; dup = 2
    //        occurrences x 2 chars = 4) → dup_line_frac 0.5, char 4/13
    // doc 2: 3 distinct lines → 0, 0, unflagged
    // doc 3: the same 5-char line 3 times → 1.0 / 1.0, flagged
    val docs = Seq(
      (1L, "aa\naa\nabcdef\nxyz"),
      (2L, "one\ntwo\nthree"),
      (3L, "hello\nhello\nhello")
    ).toDF("doc_id", "text").withColumn("lines", split(col("text"), "\n"))
    val got = operators.Dedup.duplicateLineStats(docs, "doc_id", col("lines"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getLong(5), r.getDouble(6), r.getBoolean(7))).toMap
    assert(got(1L) == ((4L, 2L, 0.5, 13L, 4L, 4.0 / 13, true)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((3L, 0L, 0.0, 11L, 0L, 0.0, false)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((3L, 3L, 1.0, 15L, 15L, 1.0, true)), s"doc3: ${got(3L)}")
  }

  test("boilerplate lines vanish corpus-wide, survivors keep their order") {
    import spark.implicits._
    // "cookie banner" appears in docs 1,2,3 (>= 3 docs → boilerplate);
    // "footer" in only 2 docs (kept); doc 4 is pure boilerplate (drops out)
    val lineRows = Seq(
      (1L, 0, "intro"), (1L, 1, "cookie banner"), (1L, 2, "body one"), (1L, 3, "footer"),
      (2L, 0, "cookie banner"), (2L, 1, "body two"), (2L, 2, "footer"),
      (3L, 0, "body three"), (3L, 1, "cookie banner"),
      (4L, 0, "cookie banner")
    ).toDF("doc_id", "pos", "line")
    val got = operators.Dedup.removeBoilerplateLines(lineRows, minDocs = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"doc 4 must drop out: ${got.keySet}")
    assert(got(1L) == (("intro\nbody one\nfooter", 3L, 1L)), s"doc1: ${got(1L)}")
    assert(got(2L) == (("body two\nfooter", 2L, 1L)), s"doc2: ${got(2L)}")
    assert(got(3L) == (("body three", 1L, 1L)), s"doc3: ${got(3L)}")
  }

  test("DSIR weights rank target-vocabulary docs above off-domain docs") {
    import spark.implicits._
    // docs 1-2 define the target domain (alpha/beta vocabulary); doc 3
    // shares it, doc 4 is off-domain (zeta/eta) — the importance weight
    // must rank 3 above 4, and the target docs themselves above both... no:
    // above 4 at least. Weights of the off-domain doc must be negative
    // (its features are raw-only, so p_T < p_R bucket-wise).
    val docs = Seq(
      (1L, "alpha beta alpha beta gamma", true),
      (2L, "beta alpha beta gamma alpha", true),
      (3L, "alpha beta gamma alpha beta", false),
      (4L, "zeta eta theta zeta eta", false)
    ).toDF("doc_id", "text", "is_en")
    val got = operators.Dsir.importanceWeights(docs, isTarget = $"is_en")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.size == 4, s"every doc must be scored: $got")
    assert(got(3L) > got(4L),
      s"target-vocab doc must outrank off-domain doc: ${got(3L)} vs ${got(4L)}")
    assert(got(4L) < 0.0, s"pure off-domain doc must weigh negative: ${got(4L)}")
  }

  test("Gumbel-top-k resample is reproducible, seed-sensitive, and weight-biased") {
    import spark.implicits._
    // 40 docs: half target-vocab, half off-domain → the ∝w sample must
    // lean target; identical seeds must give identical samples
    val docs = (0L until 40L).map { i =>
      if (i < 20) (i, "alpha beta gamma alpha beta", i < 10) // first 10 define target
      else (i, "zeta eta theta zeta eta", false)
    }.toDF("doc_id", "text", "is_tgt")
    val w = operators.Dsir.importanceWeights(docs, isTarget = $"is_tgt")
    def sample(seed: String) = operators.Dsir.gumbelTopK(w, k = 10, seed = seed)
      .select($"doc_id").collect().map(_.getLong(0)).toVector
    val a = sample("s1"); val b = sample("s1"); val c = sample("s2")
    assert(a == b, "same seed must reproduce the same sample")
    assert(a != c, "different seeds must (overwhelmingly) differ")
    assert(a.size == 10 && a.distinct.size == 10, "k without replacement")
    val targetVocabHits = a.count(_ < 20)
    assert(targetVocabHits >= 8,
      s"∝w sampling must lean target-vocab: only $targetVocabHits/10 of $a")
  }

  test("unigram surprisal is positive and rare tokens score above common ones") {
    val rows = SparkEntry.queries("q39_unigram_surprisal")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, s) =>
      assert(n > 0 && s > 0.0, s"doc $id: degenerate surprisal ($n tokens, $s)")
    }
    // sanity of the LM itself: uniform-ish corpus → mean surprisal within
    // [ln(1), ln(vocab-size-upper-bound)]; the testdata vocab is ~30 words
    rows.foreach { case (id, _, s) =>
      assert(s < math.log(1e6), s"doc $id: surprisal $s implies absurd vocab")
    }
  }

  test("every document contributes exactly its two injected URLs") {
    val rows = SparkEntry.queries("q59_url_domains")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum == 2 * nDocs,
      s"extracted ${rows.map(_._2).sum} urls from $nDocs docs (expected 2/doc)")
    assert(rows.forall { case (d, _, _, u) => u.contains(d) },
      "sample_url must contain its domain")
    assert(rows.map(_._1).distinct.length == rows.length, "domains must be distinct")
  }

  test("semantic dedup clusters are consistent with their pair graph") {
    val q56 = SparkEntry.queries("q56_semantic_dedup")
    val labels = q56(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = operators.Similarity.lshSimilarPairs(
      Tables.embeddings(spark, sf), 0.4, numTables = 6, planesPerTable = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && labels.nonEmpty)
    // every paired vector pair shares a cluster rep, and the rep is a
    // cluster member that labels itself (the canonical row)
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.values.foreach(rep => assert(labels(rep) == rep,
      s"rep $rep is not its own cluster's canonical"))
    labels.foreach { case (id, rep) => assert(rep <= id) }
  }

  test("domain cap keeps at most 40 docs per source with dense ranks, pre-limited per map task") {
    val df = SparkEntry.queries("q103_domain_cap")(spark, sf)
    val rows = df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val bySource = rows.groupBy(_._1)
    val totals = Tables.documents(spark, sf).groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, grp) =>
      val expect = math.min(40L, totals(src)).toInt
      assert(grp.length == expect, s"$src kept ${grp.length}, expected $expect")
      assert(grp.map(_._2).sorted.toSeq == (1 to expect), s"$src ranks not dense")
    }
    // the rank<=k filter must plan as WindowGroupLimit so each map task
    // pre-limits its partition before the shuffle — the 100 TB cap shape
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("WindowGroupLimit"), s"no WindowGroupLimit in plan:\n$phys")
  }

  test("chunking covers every document: count and char totals follow from the stride") {
    val got = SparkEntry.queries("q104_chunk_overlap")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lens = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == lens.filter(_._2 > 0).keySet)
    got.foreach { case (id, (nChunks, sumChars)) =>
      val l = lens(id)
      val expectChunks = (l - 1) / 90 + 1
      assert(nChunks == expectChunks, s"doc $id: $nChunks chunks, expected $expectChunks")
      // chunk i spans [90i, min(90i+120, len)) — the last TWO chunks can
      // both run short when len mod 90 < 30, so sum the spans directly
      val expectChars = (0L until expectChunks).map(i => math.min(120L, l - 90 * i)).sum
      assert(sumChars == expectChars,
        s"doc $id: chunk chars $sumChars != $expectChars")
    }
  }

  test("MAD outlier counts match a driver-side median/MAD recomputation") {
    val got = SparkEntry.queries("q105_outlier_mad")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6)))
      .toMap
    def interpMedian(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val bySource = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    bySource.foreach { case (src, xs) =>
      val med = interpMedian(xs)
      val mad = interpMedian(xs.map(x => math.abs(x - med)))
      val nOut = xs.count(x => math.abs(x - med) > 3.0 * mad)
      val (nDocs, nOutliers, gotMed, gotMad) = got(src)
      assert(nDocs == xs.length && gotMed == med && gotMad == mad,
        s"$src: med/mad mismatch got=($gotMed,$gotMad) expect=($med,$mad)")
      assert(nOutliers == nOut, s"$src: $nOutliers outliers, recomputed $nOut")
    }
  }

  test("source JSD is bounded by ln 2 and zero only for a source identical to the corpus") {
    val rows = SparkEntry.queries("q106_source_jsd")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nTok, nVocab, jsd) =>
      assert(jsd >= 0.0 && jsd <= math.log(2.0) + 1e-9,
        s"$src: jsd $jsd outside [0, ln 2]")
      // no source IS the whole corpus here, so divergence is strictly positive
      assert(jsd > 0.0, s"$src: jsd exactly zero against a multi-source corpus")
      assert(nVocab > 0 && nTok >= nVocab)
    }
  }

  test("merge apply: action counts follow from the key residues") {
    import spark.implicits._
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k")).as[Long].collect().toSet
    val base = o.filter(_ % 10 != 0)
    val expectUpdated = base.count(_ % 4 == 0)
    val expectDeleted = base.count(_ % 4 == 1)
    val expectInserted = o.count(_ % 4 == 2) // negated keys never collide
    val expectKept = base.size - expectUpdated - expectDeleted
    val rows = SparkEntry.queries("q107_merge_apply")(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    val byAction = rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    assert(byAction.getOrElse("updated", 0L) == expectUpdated)
    assert(byAction.getOrElse("inserted", 0L) == expectInserted)
    assert(byAction.getOrElse("kept", 0L) == expectKept)
    assert(!byAction.contains("deleted") && !byAction.contains("noop"))
  }

  test("incremental dedup equals the plain semi join and splits the batch exactly") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        functions.TextFunctions.fingerprint(col("text")).as("fp"))
    val corpusFps = docs.filter(col("doc_id") % 3 =!= 0)
      .select("fp").as[String].collect().toSet
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select(col("source"), col("fp")).as[(String, String)].collect()
    val expect = batch.groupBy(_._1).map { case (src, rows) =>
      src -> (rows.length.toLong, rows.count(r => corpusFps(r._2)).toLong)
    }
    val got = SparkEntry.queries("q108_incremental_dedup")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == expect.size)
    got.foreach { case (src, (nBatch, nDup, nKept)) =>
      val (eBatch, eDup) = expect(src)
      assert(nBatch == eBatch && nDup == eDup && nKept == eBatch - eDup,
        s"$src: got ($nBatch,$nDup,$nKept) expected ($eBatch,$eDup,${eBatch - eDup})")
    }
  }

  test("token entropy obeys its bounds and a driver-side recomputation") {
    val rows = SparkEntry.queries("q111_token_entropy")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt, r.getDouble(3)))
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, nd, h) =>
      assert(h >= 0.0 && h <= math.log(nd.toDouble) + 1e-6,
        s"doc $id: entropy $h outside [0, ln $nd]")
      assert((nd == 1) == (h == 0.0), s"doc $id: zero-entropy iff single token")
      val toks = texts(id).toLowerCase.trim.replaceAll("\\s+", " ").split(" ")
      assert(toks.length == n, s"doc $id: token count")
      val recomputed = toks.groupBy(identity).values.map { g =>
        val p = g.length.toDouble / n
        math.round(-p * math.log(p) * 1e9)
      }.sum / 1e9
      assert(math.abs(recomputed - h) < 1e-9, s"doc $id: entropy $h != $recomputed")
    }
  }

  test("stratum sampling thresholds reproduce exactly from a driver-side md5") {
    val got = SparkEntry.queries("q112_stratum_sample")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): Long = {
      val hex = md.digest(s"strat|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(14)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = Tables.documents(spark, sf).select(col("source"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expect = docs.groupBy(_._1).map { case (src, v) =>
      val thr = if (src == "src0") 36028797018963968L else 14411518807585587L
      src -> (v.length.toLong, v.count(d => key(d._2) < thr).toLong)
    }
    assert(got == expect, s"sampling mismatch: got $got expected $expect")
  }

  test("containment join equals a driver-side brute force over the probe slice") {
    val got = SparkEntry.queries("q113_containment_join")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val shingles = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val toks = r.getString(1).toLowerCase.trim.replaceAll("\\s+", " ").split(" ")
        r.getLong(0) -> toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
    val expect = (for {
      (a, sa) <- shingles if a % 5 == 0
      (b, sb) <- shingles if b != a
      c = (sa & sb).size.toDouble / sa.size if c >= 0.8
    } yield (a, b) -> c).toMap
    assert(got.keySet == expect.keySet,
      s"pair sets differ: missing ${expect.keySet -- got.keySet}, extra ${got.keySet -- expect.keySet}")
    got.foreach { case (k, c) => assert(math.abs(c - expect(k)) < 1e-12, s"$k: $c vs ${expect(k)}") }
    assert(got.nonEmpty, "containment join found nothing — vacuous test")
  }

  test("prefix filters keep threshold-exact pairs at the t*|s| integer boundary") {
    import spark.implicits._
    // 5 bigrams in doc 1; doc 2 shares exactly 3 => containment/jaccard
    // exactly 0.6, and the required overlap ceil(0.6*5)=3 sits exactly on
    // an integer. A prefix one slot too short (any future regression in
    // the ceil guard) would keep only the two corpus-rarest grams
    // {st, tu} — neither in doc 2 — and silently lose the pair; the
    // lossless bound keeps the third slot (rs), which doc 2 shares.
    val corpus = Seq(
      (1L, "p q r s t u"), (2L, "p q r s"), (3L, "p q r"), (4L, "p q r")
    ).toDF("doc_id", "text")
    val gotC = operators.Dedup.containmentJoin(
        corpus.filter(col("doc_id") === 1), corpus, "doc_id", "text",
        n = 2, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotC == Set((1L, 2L, 0.6)), s"containment got $gotC")
    val gotJ = operators.Dedup.ngramJaccardJoin(corpus, "doc_id", "text",
        n = 2, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotJ == Set((1L, 2L), (2L, 3L), (2L, 4L), (3L, 4L)), s"jaccard got $gotJ")
  }

  test("length gini matches a driver-side Lorenz recomputation and its bounds") {
    val got = SparkEntry.queries("q117_length_gini")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val bySource = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
    assert(got.keySet == bySource.keySet)
    bySource.foreach { case (src, xs) =>
      val n = xs.length.toLong
      val tot = xs.sum
      val rx = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val gini = (2L * rx - (n + 1) * tot).toDouble / (n * tot).toDouble
      val (gn, gt, gg) = got(src)
      assert(gn == n && gt == tot)
      assert(gg == gini, s"$src: gini $gg != $gini")
      assert(gg >= 0.0 && gg < 1.0, s"$src: gini $gg out of [0,1)")
    }
  }

  test("source overlap matrix matches a driver-side set intersection per pair") {
    import spark.implicits._
    val fps = Tables.documents(spark, sf)
      .select(col("source"),
        functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .as[(String, String)].collect()
      .groupBy(_._1).map { case (s2, v) => s2 -> v.map(_._2).toSet }
    val sources = fps.keys.toSeq.sorted
    val expect = (for {
      a <- sources; b <- sources if a < b
      n = (fps(a) & fps(b)).size if n > 0
    } yield (a, b) -> n.toLong).toMap
    val got = SparkEntry.queries("q109_source_overlap")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expect, s"overlap matrix mismatch: got $got expected $expect")
  }

  private def normTokens(text: String): Seq[String] =
    text.replaceAll("\\s+", " ").trim.toLowerCase.split(" ").toSeq

  test("Gopher repetition counts match a driver-side recomputation") {
    val rows = SparkEntry.queries("q119_gopher_repetition")(spark, sf).collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    rows.take(60).foreach { r =>
      val toks = normTokens(docs(r.getLong(0)))
      val g2 = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val g5 = toks.sliding(5).filter(_.size == 5).map(_.mkString(" ")).toSeq
      val top2 = g2.groupBy(identity).values.map(_.size).max.toLong
      val dup5 = g5.groupBy(identity).values.filter(_.size >= 2).map(_.size).sum.toLong
      assert(r.getLong(1) == top2, s"top2_n for doc ${r.getLong(0)}")
      assert(r.getLong(2) == g2.size.toLong, s"n_2grams for doc ${r.getLong(0)}")
      assert(r.getLong(4) == dup5, s"dup5_n for doc ${r.getLong(0)}")
      assert(r.getLong(5) == g5.size.toLong, s"n_5grams for doc ${r.getLong(0)}")
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(6) >= 0 && r.getDouble(6) <= 1.0)
    }
  }

  test("BM25 top-20 matches a driver-side full recomputation") {
    val got = SparkEntry.queries("q120_bm25_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> normTokens(r.getString(1))).toMap
    val terms = Seq("spark", "join", "window")
    val n = docs.size
    val totDl = docs.values.map(_.size.toLong).sum
    val dfm = terms.map(t => t -> docs.values.count(_.contains(t))).toMap
    val expected = docs.toSeq.flatMap { case (id, toks) =>
      val dl = toks.size
      val matched = terms.filter(t => toks.contains(t))
      if (matched.isEmpty) None
      else {
        val e9 = matched.map { t =>
          val tf = toks.count(_ == t).toDouble
          val idf = math.log((n - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0)
          val c = idf * (tf * 2.5) /
            (tf + 1.5 * (0.25 + 0.75 * (dl.toDouble * n / totDl)))
          math.round(c * 1e9)
        }.sum
        Some((id, dl.toLong, matched.size.toLong, e9))
      }
    }.sortBy { case (id, _, _, s) => (-s, id) }.take(20)
      .map { case (id, dl, nt, s) => (id, dl, nt, s.toDouble / 1e9) }
    assert(expected.nonEmpty)
    assert(got.toSeq == expected,
      s"BM25 divergence: got ${got.take(3).toSeq} expected ${expected.take(3)}")
  }

  test("span removal keeps the canonical copy and excises overlapping spans as one cut") {
    import spark.implicits._
    // doc 1 is canonical (smallest id) for the shared 6-token run; docs 2
    // and 3 repeat it with different surroundings; doc 4 is clean; doc 5
    // is shorter than k and must pass through untouched
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta ONE unique tail here now"),
      (2L, "TWO head alpha beta gamma delta epsilon zeta and more text"),
      (3L, "alpha beta gamma delta epsilon zeta THREE something else entirely"),
      (4L, "totally different content with no repeated spans at all ok"),
      (5L, "tiny doc")
    ).toDF("doc_id", "text")
    val got = operators.Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 keeps everything: it is canonical for every duplicated gram
    assert(got(1L) == (("alpha beta gamma delta epsilon zeta one unique tail here now", 11L, 0L)))
    // docs 2/3: the shared 6-token run carries two overlapping duplicated
    // 5-grams — their union (all 6 tokens) excises as ONE contiguous cut
    assert(got(2L) == (("two head and more text", 5L, 6L)))
    assert(got(3L) == (("three something else entirely", 4L, 6L)))
    assert(got(4L)._3 == 0L, "clean doc must lose nothing")
    assert(got(5L) == (("tiny doc", 2L, 0L)), "sub-k doc passes through")
  }

  test("vocab coverage cuts to top-30 BEFORE the global-ordered window") {
    val df = SparkEntry.queries("q132_vocab_coverage")(spark, sf)
    // the full vocabulary must be reduced by a distributed
    // TakeOrderedAndProject first; the single-partition window then runs
    // over the 30-row display prefix, never the whole vocab
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"),
      s"no TakeOrderedAndProject in plan:\n$phys")
    val win = phys.indexOf("Window")
    val cut = phys.indexOf("TakeOrderedAndProject")
    assert(win >= 0 && win < cut,
      s"Window must sit ABOVE the top-30 cut (win=$win cut=$cut):\n$phys")
    // and the prefix sum over the cut is still the true global prefix sum
    val rows = df.collect()
    assert(rows.length == 30)
    val byRank = rows.map(r => r.getInt(0) -> r.getLong(2)).toMap
    val cums = rows.map(r => r.getInt(0) -> r.getDouble(3)).toMap
    val total = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .count()
    (1 to 30).foreach { r =>
      val expect = (1 to r).map(byRank).sum.toDouble / total
      assert(math.abs(cums(r) - expect) < 1e-12,
        s"rank $r coverage ${cums(r)} != $expect")
    }
  }

  test("NB quality classifier separates a planted vocabulary split") {
    import spark.implicits._
    // 8 train docs (even ids) + 2 held-out docs (odd ids) with DISJOINT
    // class vocabularies: the classifier must score the held-out docs onto
    // the right side of zero, with symmetric magnitudes (balanced classes,
    // mirrored counts → prior 0, mirrored llr).
    val docs = (0 until 8).map { i =>
      val en = i % 4 < 2
      (i.toLong, if (en) "good clean text here" else "mal texto aqui malo",
        if (en) "en" else "es", "s", 4L)
    } ++ Seq(
      (9L, "good clean text here", "de", "s", 4L), // en-vocab doc, non-en label
      (11L, "mal texto aqui malo", "en", "s", 4L)) // es-vocab doc, en label
    val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    val saved = java.nio.file.Files.createTempDirectory("graft_nb").toString
    df.write.mode("overwrite").parquet(s"$saved/documents.parquet")
    val got = queries.Text.q139(spark, saved)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(got(9L)._3, "en-vocab held-out doc must be predicted en")
    assert(!got(11L)._3, "es-vocab held-out doc must be predicted non-en")
    assert(math.abs(got(9L)._2 + got(11L)._2) < 1e-9,
      "mirrored vocabularies must give symmetric scores")
    assert(got(9L)._1 == 4L && got(11L)._1 == 4L)
  }

  test("temperature mixing flattens toward uniform and conserves weight") {
    val rows = queries.Text.q140(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    val weights = rows.map(_._3)
    assert(math.abs(weights.sum - 1.0) < 1e-6, s"weights sum ${weights.sum}")
    // α<1 compresses the ratio: weight ratio between the largest and
    // smallest source must be strictly smaller than the raw count ratio
    val byN = rows.sortBy(_._2)
    val rawRatio = byN.last._2.toDouble / byN.head._2
    val wRatio = byN.last._3 / byN.head._3
    assert(wRatio < rawRatio && wRatio > 1.0,
      s"temperature must flatten: wRatio $wRatio vs rawRatio $rawRatio")
    // sampling rate is inverse-ordered: rarer sources get boosted more
    assert(byN.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      s"rates not non-increasing in count order: ${byN.toSeq}")
  }

  test("edit-distance join equals brute-force levenshtein <= 2 on a typo corpus") {
    import spark.implicits._
    // planted variant family around "spark" (sub, del, ins, double-del)
    // plus words that must NOT pair (distance 3+)
    val docs = Seq(
      (1L, "spark spork sprk sparkk table", "en", "s", 10L),
      (2L, "spark stark tables batch", "en", "s", 10L),
      (3L, "window widow windows spark", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_ed").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = queries.Text.q151(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // driver-side brute force over the same vocabulary
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j => i.max(j)))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val vocab = Seq("spark", "spork", "sprk", "sparkk", "table", "stark",
      "tables", "batch", "window", "widow", "windows")
      .filter(_.length >= 4).distinct
    val want = (for {
      a <- vocab; b <- vocab if a < b && lev(a, b) <= 2
    } yield (a, b)).toSet
    assert(got == want, s"got $got\nwant $want")
    // sanity: the planted family is in, the far words are out
    assert(got.contains(("spark", "spork")) && got.contains(("spark", "sprk")))
    assert(!got.contains(("spark", "batch")))
  }

  test("phrase search counts consecutive occurrences only, with 1-based first position") {
    import spark.implicits._
    val docs = Seq(
      (1L, "slow hash batch x slow hash batch", "en", "s", 10L), // 2 hits, pos 1
      (2L, "slow hash x batch", "en", "s", 10L),                 // broken phrase
      (3L, "batch hash slow", "en", "s", 10L),                   // reversed
      (4L, "x slow hash batch", "en", "s", 10L))                 // 1 hit, pos 2
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_ph").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = queries.Text.q152(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((1L, 2L, 1L), (4L, 1L, 2L)), s"$got")
  }

  test("BPE encode applies ranked merges to fixpoint (adjacent occurrences included)") {
    import spark.implicits._
    // corpus: "aaaa aaaa bb ab" -> words aaaa(2) bb(1) ab(1)
    // pairs: "a a" n=6 (rank 1), then ties n=1: "a b" (rank 2) < "b b" (3)
    // "aaaa" needs the fixpoint passes: one scan leaves " aa a a ",
    // convergence gives "aa aa" (static merge table, no re-ranking)
    val docs = Seq((1L, "aaaa aaaa bb ab", "en", "s", 15L),
      (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    docs.filter($"n_chars" > 0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = queries.Text.q162(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getInt(4)))).toMap
    assert(got("aaaa") == (("aa aa", 2)), s"$got")
    assert(got("bb") == (("bb", 1)))
    assert(got("ab") == (("ab", 1)))
  }

  test("q275 BPE training learns the classical merge order on a closed-form corpus") {
    import spark.implicits._
    // corpus: aaab(x2), ab(x3). Classical BPE by hand:
    //   round 1: pairs "a a"=4 (2 per aaab), "a b"=5 (1 per word) -> merge
    //     ("a b" -> ab, n=5); aaab becomes [a,a,ab], ab becomes [ab]
    //   round 2: "a a"=2 ties "a ab"=2, pair-asc tie-break picks
    //     ("a a" -> aa, n=2); aaab becomes [aa,ab]
    //   round 3: ("aa ab" -> aaab, n=2); aaab becomes [aaab]
    //   round 4: no multi-symbol word remains -> early stop at 3 merges
    // This exercises recounting BETWEEN merges (round 2's winner "a a"
    // did not win round 1), the exact tie-break, and the early stop.
    val docs = Seq((1L, "aaab ab aaab ab ab", "en", "s", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_bpetrain").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = queries.Text.q275(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toList
    assert(got == List((1, "a b", "ab", 5L), (2, "a a", "aa", 2L),
      (3, "aa ab", "aaab", 2L)), s"$got")
  }

  test("q233 negative sampling: corpus counts exact, draw volume bounded") {
    val out = queries.Text.q233(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty && out.length <= 20)
    // driver-side recomputation of the corpus counts with the same
    // normalization the engine's tokens() applies
    val counts = scala.collection.mutable.Map[String, Long]()
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      r.getString(0).replaceAll("\\s+", " ").trim.toLowerCase
        .split(" ").foreach(t => counts(t) = counts.getOrElse(t, 0L) + 1)
    }
    out.foreach { case (tok, cnt, _) =>
      assert(counts.get(tok).contains(cnt),
        s"corpus count mismatch for '$tok': got $cnt, want ${counts.get(tok)}")
    }
    val nDocs = Tables.documents(spark, sf).count()
    val totalDrawn = out.map(_._3).sum
    assert(out.forall(_._3 > 0))
    assert(totalDrawn <= 4 * nDocs,
      s"top-20 draw volume $totalDrawn exceeds the K=4 per-doc budget")
    // draws are n_drawn-descending with token tie-breaks
    assert(out.map(r => (-r._3, r._1)).sameElements(
      out.map(r => (-r._3, r._1)).sorted), "output ordering broken")
  }

  test("q234 streaks equal a driver-side gaps-and-islands recomputation") {
    val got = queries.Events.q234(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val days = Tables.events(spark, sf)
      .selectExpr("user_id", "(ts div 1000000000) div 86400 as day")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    val want = days.map { case (u, ds) =>
      // split the sorted day vector into maximal consecutive runs
      val runs = ds.foldLeft(Vector.empty[Vector[Long]]) { (acc, d) =>
        if (acc.nonEmpty && acc.last.last == d - 1)
          acc.init :+ (acc.last :+ d)
        else acc :+ Vector(d)
      }
      val best = runs.maxBy(r => (r.length, -r.head))
      (u, best.length.toLong, best.head, ds.length.toLong, runs.length.toLong)
    }.toSeq.sortBy(t => (-t._2, t._1)).take(20)
    assert(got.toSeq == want,
      s"streaks diverge: got ${got.take(3).toSeq} want ${want.take(3)}")
  }

  test("q240 SymSpell join equals brute-force all-pairs with an independent Levenshtein") {
    // classic DP edit distance — deliberately NOT Spark's levenshtein, so
    // this checks both the deletion-signature blocking (losslessness) and
    // the engine's distance function against a third implementation
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0)
        dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val got = SparkEntry.queries("q240_edit_distance_join")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val vocab = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).replaceAll("\\s+", " ").trim.toLowerCase.split(" "))
      .filter(_.length >= 3).distinct.sorted
    val exp = (for {
      a <- vocab; b <- vocab if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong)).toSet
    assert(exp.nonEmpty, "fixture should contain near-pairs")
    assert(got == exp, s"missing=${(exp -- got).take(5)} extra=${(got -- exp).take(5)}")
  }

  test("q243 Good-Turing equals a driver-side count-of-counts recomputation") {
    val got = SparkEntry.queries("q243_good_turing")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.length <= 20)
    val counts = scala.collection.mutable.Map[String, Long]()
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      r.getString(0).replaceAll("\\s+", " ").trim.toLowerCase
        .split(" ").foreach(t => counts(t) = counts.getOrElse(t, 0L) + 1)
    }
    val coc = counts.values.groupBy(identity).map { case (r, g) => r -> g.size.toLong }
    val nTotal = counts.values.sum
    val nVocab = counts.size.toLong
    val exp = coc.keys.toSeq.sorted.take(20).map { r =>
      val nr = coc(r)
      val nr1 = coc.getOrElse(r + 1, 0L)
      (r, nr, (BigInt(r + 1) * nr1 * 1000000 / nr).toLong,
        (BigInt(nr) * r * 1000000 / nTotal).toLong, nVocab)
    }
    assert(got.toSeq == exp, s"got=${got.take(3).toSeq} want=${exp.take(3)}")
  }

  test("q244 feature hashing: mass conservation and signed-sum bounds") {
    val got = SparkEntry.queries("q244_feature_hashing")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty && got.length <= 64)
    val totalTokens = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0).replaceAll("\\s+", " ").trim.toLowerCase.split(" ").length.toLong)
      .sum
    assert(got.map(_._4).sum == totalTokens,
      "bucket masses must partition the token stream")
    got.foreach { case (bucket, nTerms, nDocs, mass, signed, absSigned) =>
      assert(bucket >= 0 && bucket < 64 && nTerms >= 1 && nDocs >= 1)
      // per-doc cancellation can only shrink magnitude: |Σ| ≤ Σ|…| ≤ mass
      assert(math.abs(signed) <= absSigned && absSigned <= mass,
        s"bucket $bucket bounds broken: $signed / $absSigned / $mass")
    }
  }

  test("q256 Heaps curve equals a driver-side prefix recomputation") {
    val got = SparkEntry.queries("q256_heaps_law")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).replaceAll("\\s+", " ").trim.toLowerCase.split(" ")))
      .sortBy(_._1)
    got.foreach { case (k, nDocs, nTokens, nVocab, _) =>
      val prefix = docs.filter(_._1 < k)
      assert(nDocs == prefix.length.toLong, s"k=$k docs")
      assert(nTokens == prefix.map(_._2.length.toLong).sum, s"k=$k tokens")
      assert(nVocab == prefix.flatMap(_._2).distinct.length.toLong, s"k=$k vocab")
    }
    // growth must be monotone in k, and betas identical across rows
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.toSeq)
    assert(got.map(_._4).toSeq == got.map(_._4).sorted.toSeq)
    assert(got.map(_._5).distinct.length == 1)
    // sub-linear vocabulary growth: 0 < β < 1 on a natural corpus
    assert(got.head._5 > 0.0 && got.head._5 < 1.0, s"beta=${got.head._5}")
  }

  test("q259 Zipf fit equals a BigInt driver recomputation of the slope") {
    val got = SparkEntry.queries("q259_zipf_fit")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(got.length == 20)
    val counts = scala.collection.mutable.Map[String, Long]()
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      r.getString(0).replaceAll("\\s+", " ").trim.toLowerCase
        .split(" ").foreach(t => counts(t) = counts.getOrElse(t, 0L) + 1)
    }
    val ranked = counts.toSeq.sortBy { case (w, c) => (-c, w) }.zipWithIndex
      .map { case ((w, c), i) => (i + 1L, w, c) }
    got.foreach { case (rank, w, freq, _, nVocab) =>
      assert(nVocab == counts.size.toLong)
      assert((rank, w, freq) == ranked(rank.toInt - 1), s"rank $rank row")
    }
    val (m, sx, sy, sxx, sxy) = ranked.foldLeft(
      (0L, BigInt(0), BigInt(0), BigInt(0), BigInt(0))) {
      case ((m0, sx0, sy0, sxx0, sxy0), (rank, _, c)) =>
        val x = math.round(math.log(rank.toDouble) * 1e9)
        val y = math.round(math.log(c.toDouble) * 1e9)
        (m0 + 1, sx0 + x, sy0 + y, sxx0 + BigInt(x) * x, sxy0 + BigInt(x) * y)
    }
    val exp = math.round((m * sxy - sx * sy).toDouble
      / (m * sxx - sx * sx).toDouble * 1e9) / 1e9
    assert(math.abs(got.head._4 - exp) <= 2e-9, s"slope ${got.head._4} vs $exp")
    // a Zipf-ish corpus slopes DOWN
    assert(got.head._4 < 0.0)
  }

  test("q272 Yule's K equals a BigInt driver recomputation per source") {
    val got = SparkEntry.queries("q272_yule_k")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val bySource = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0),
        r.getString(1).replaceAll("\\s+", " ").trim.toLowerCase.split(" ")))
      .groupBy(_._1)
    got.foreach { case (src, nTok, nVoc, k) =>
      val counts = bySource(src).flatMap(_._2)
        .groupBy(identity).map(_._2.length.toLong)
      assert(nTok == counts.sum && nVoc == counts.size.toLong, s"$src counts")
      val s2 = counts.map(c => BigInt(c) * c).sum
      val exp = math.round((s2.toDouble - nTok) / nTok / nTok * 1e4 * 1e6) / 1e6
      assert(math.abs(k - exp) <= 2e-6, s"$src K $k vs $exp")
      assert(k > 0.0, "repeated tokens exist in every source")
    }
  }

  test("q278 Kneser-Ney matches a driver recomputation and stays a probability") {
    val got = queries.Text.q278(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
    assert(got.nonEmpty)
    // recount bigrams in the driver with the engine's normalization
    val big = scala.collection.mutable.Map[(String, String), Long]()
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      val t = r.getString(0).replaceAll("\\s+", " ").trim.toLowerCase.split(" ")
      t.sliding(2).filter(_.length == 2)
        .foreach(p => big((p(0), p(1))) = big.getOrElse((p(0), p(1)), 0L) + 1)
    }
    val c1 = big.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val n1p = big.groupBy(_._1._1).map { case (w, m) => w -> m.size.toLong }
    val nc = big.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val ntot = big.size.toLong
    got.foreach { case ((w1, w2), (c12, pkn)) =>
      assert(big((w1, w2)) == c12, s"count $w1 $w2")
      val exp = math.rint((math.max(c12 - 0.75, 0.0) / c1(w1)
        + 0.75 * n1p(w1) / c1(w1) * nc(w2) / ntot) * 1e9) / 1e9
      assert(math.abs(pkn - exp) <= 2e-9, s"$w1 $w2: $pkn vs $exp")
      assert(pkn > 0.0 && pkn <= 1.0)
    }
    // discounting reserves mass: observed successors of any w1 sum < 1
    got.groupBy(_._1._1).foreach { case (w1, rows) =>
      assert(rows.map(_._2._2).sum < 1.0 + 1e-9, s"mass blowout for $w1")
    }
  }

  test("q280 OOV ppm equals a driver recomputation of the parity split") {
    val got = queries.Text.q280(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).replaceAll("\\s+", " ").trim.toLowerCase.split(" ").toSeq))
    val vocab = docs.filter(_._1 % 2 == 0).flatMap(_._3).toSet
    docs.filter(_._1 % 2 == 1).groupBy(_._2).foreach { case (src, rows) =>
      val toks = rows.flatMap(_._3)
      val oov = toks.count(!vocab.contains(_)).toLong
      val (n, o, ppm) = got(src)
      assert(n == toks.length.toLong && o == oov, s"$src counts")
      assert(ppm == oov * 1000000L / toks.length, s"$src ppm")
    }
  }

  test("q290 LOSO metrics equal a driver recomputation over text groups") {
    val got = queries.Text.q290(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .selectExpr("source", "text").collect()
      .map { r =>
        val toks = r.getString(1).replaceAll("\\s+", " ").trim.toLowerCase.split(" ")
        (r.getString(0), r.getString(1), toks.length.toLong)
      }
    val nn = docs.length.toLong
    val tt = docs.map(_._3).sum
    val dd = docs.map(_._2).distinct.length.toLong
    val byText = docs.groupBy(_._2)
    got.foreach { case (src0, (nS, meanAll, meanWo, dupsAll, dupsWo)) =>
      val mine = docs.filter(_._1 == src0)
      assert(nS == mine.length.toLong)
      assert(meanAll == tt * 1000000L / nn)
      val tS = mine.map(_._3).sum
      assert(meanWo == (tt - tS) * 1000000L / (nn - nS), s"$src0 mean_wo")
      assert(dupsAll == nn - dd)
      val fullyContained = byText.count { case (_, rs) => rs.forall(_._1 == src0) }
      assert(dupsWo == (nn - nS) - (dd - fullyContained), s"$src0 dups_wo")
    }
  }

  test("q294 truncation loss equals a driver recomputation at every window") {
    val got = queries.Text.q294(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val lens = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0).replaceAll("\\s+", " ").trim.toLowerCase.split(" ").length.toLong)
    assert(got.keySet == Set(128L, 256L, 512L, 1024L))
    got.foreach { case (w, (nDocs, nTrunc, lost, ppm)) =>
      assert(nDocs == lens.length.toLong)
      assert(nTrunc == lens.count(_ > w).toLong, s"win $w")
      assert(lost == lens.filter(_ > w).map(_ - w).sum, s"win $w lost")
      assert(ppm == lost * 1000000L / lens.sum, s"win $w ppm")
    }
  }

  test("q295 frame near-dup pairs fire on duplicated payloads, not on disjoint ones") {
    import spark.implicits._
    // docs 1/2 identical 128-char payloads -> all 4 frames shared; doc 3
    // shares only the first half (frames 0,1) -> n_shared = 2; doc 4 disjoint
    val q = Seq("abcdefgh", "ijklmnop", "qrstuvwx", "01234567").map(_ * 4)
    val base = q.mkString            // 4 DISTINCT 32-char frames
    val alt = q(0) + q(1) + ("ZYXWVUTS" * 8) // shares frames 0,1 only
    val docs = Seq((1L, base), (2L, base), (3L, alt),
      (4L, "z" * 17 + "y" * 17 + "x" * 17 + "w" * 17))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang", "'s' as source",
        "cast(length(text) as long) as n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_fnd").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = queries.Vectors.q295(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 4L, (1L, 3L) -> 2L, (2L, 3L) -> 2L), s"$got")
  }

  test("q296 chunk accounting matches the closed form per document") {
    val got = queries.Text.q296(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .selectExpr("source", "text").collect()
      .map(r => (r.getString(0),
        r.getString(1).replaceAll("\\s+", " ").trim.toLowerCase.split(" ").length.toLong))
    docs.groupBy(_._1).foreach { case (src0, rows) =>
      val (nDocs, nChunks, nTok, vol, ppm) = got(src0)
      assert(nDocs == rows.length.toLong && nTok == rows.map(_._2).sum)
      val chunks = rows.map(_._2).map(tk => (0L to (tk - 1) / 48).map(i => math.min(64L, tk - i * 48)))
      assert(nChunks == chunks.map(_.length.toLong).sum, s"$src0 chunks")
      assert(vol == chunks.map(_.sum).sum, s"$src0 vol")
      assert(ppm == (vol - nTok) * 1000000L / nTok, s"$src0 ppm")
    }
  }

  test("q297 tombstoned documents vanish from probes; survivors are untouched") {
    import spark.implicits._
    // docs 1,2,3 contain the probe phrase; doc 2 gets tombstoned
    val docs = Seq(
      (1L, "slow hash batch tail one"),
      (2L, "slow hash batch tail two"),
      (3L, "head slow hash batch"),
      (4L, "no phrase here at all"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tomb").toString + "/idx"
    sources.InvertedIndex.build(docs, dir)
    val before = sources.InvertedIndex.phraseProbe(spark, dir,
      Seq("slow", "hash", "batch")).collect().map(_.getLong(0)).toSet
    assert(before == Set(1L, 2L, 3L), s"$before")
    sources.InvertedIndex.delete(Seq(2L).toDF("doc_id"), dir)
    val after = sources.InvertedIndex.phraseProbe(spark, dir,
      Seq("slow", "hash", "batch")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(after.map(_._1).toSet == Set(1L, 3L), s"${after.toSeq}")
    // survivor rows keep exact match counts/positions (1-based)
    val m = after.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) == ((1L, 1L)) && m(3L) == ((1L, 2L)), s"$m")
    // idempotent re-delete
    sources.InvertedIndex.delete(Seq(2L).toDF("doc_id"), dir)
    assert(sources.InvertedIndex.phraseProbe(spark, dir,
      Seq("slow", "hash", "batch")).collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("q306 scaling curve is nested-monotone and 100% matches corpus totals") {
    val got = queries.Text.q306(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.map(_._1).toList == List(25L, 50L, 75L, 100L))
    // nested subsamples: docs/tokens/vocab monotone nondecreasing
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4, s"$a vs $b")
    case _ => }
    val full = got.last
    val docs = Tables.documents(spark, sf).selectExpr("text").collect()
      .map(_.getString(0))
    assert(full._2 == docs.length.toLong)
    val toks = docs.flatMap(_.replaceAll("\\s+", " ").trim.toLowerCase.split(" "))
    assert(full._3 == toks.length.toLong && full._4 == toks.distinct.length.toLong)
    assert(full._5 == (docs.length - docs.distinct.length).toLong)
  }

  test("q307 effective size: canonical docs keep their tokens, dups drop") {
    val got = queries.Text.q307(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got.nonEmpty)
    got.values.foreach { case (nDocs, nKept, nTok, keptTok, ppm) =>
      assert(nKept <= nDocs && keptTok <= nTok)
      assert(ppm == keptTok * 1000000L / nTok)
    }
    // global kept docs == number of near-dup clusters (one canonical each)
    val canonical = queries.Text.q82(spark, sf).collect()
      .count(_.getBoolean(2)).toLong
    assert(got.values.map(_._2).sum == canonical)
  }
}
