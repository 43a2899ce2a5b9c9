package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.operators.Dedup

/** Property-based checks for the exact similarity joins: the prefix-filter
  * theorems (lossless recall) verified against a driver-side brute force
  * over ARBITRARY generated corpora — the spec-level twin of the fixed
  * oracle queries (q83/q113), which can only witness recall on the one
  * corpus the testdata happens to be.
  *
  * Documents are short token strings over a tiny alphabet so that shingle
  * collisions across documents are common — exactly the regime where a
  * buggy prefix filter (off-by-one prefix length, wrong global order,
  * missing self-pair guard) actually loses pairs.
  */
object DedupProps extends Properties("graft.dedup") {

  // each case runs several Spark jobs (windows + joins + persists); 12
  // random corpora per property is plenty to catch a broken filter while
  // keeping the suite's wall-clock bounded
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = GraftSession(4)

  // 3-8 tokens from a 6-word vocabulary: dense overlap, frequent ties
  private val docGen: Gen[String] = Gen.chooseNum(3, 8).flatMap { n =>
    Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.mkString(" "))
  }
  private val corpusGen: Gen[List[String]] =
    Gen.chooseNum(4, 12).flatMap(n => Gen.listOfN(n, docGen))

  private def shingleSet(text: String, k: Int): Set[String] =
    text.toLowerCase.trim.replaceAll("\\s+", " ").split(" ")
      .sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet

  property("ngramJaccardJoin equals brute force on arbitrary corpora") =
    forAll(corpusGen) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val t = 0.5
      val got = Dedup.ngramJaccardJoin(docs, "doc_id", "text", n = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = texts.zipWithIndex
        .map { case (txt, i) => i.toLong -> shingleSet(txt, 2) }
        .filter(_._2.nonEmpty)
      val expect = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter) if j >= t
      } yield (a, b)).toSet
      got == expect
    }

  property("containmentJoin equals brute force on arbitrary probe/corpus splits") =
    forAll(corpusGen) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val probe = docs.filter($"doc_id" % 2 === 0)
      val t = 0.6
      val got = Dedup.containmentJoin(probe, docs, "doc_id", "text",
          n = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // NOTE: this must stay a List, not a Map — a for-comprehension over a
      // Map that yields (a, b) pairs REBUILDS A MAP keyed by a, silently
      // collapsing multiple matches per probe doc (observed live: the
      // property falsified against a correct operator until this harness
      // bug was found).
      val sets = texts.zipWithIndex
        .map { case (txt, i) => i.toLong -> shingleSet(txt, 2) }
        .filter(_._2.nonEmpty)
      val expect = (for {
        (a, sa) <- sets if a % 2 == 0
        (b, sb) <- sets if b != a
        c = (sa & sb).size.toDouble / sa.size if c >= t
      } yield (a, b)).toSet
      got == expect
    }

  // --- round-7 line operators: brute-force equivalence over random corpora --

  // docs as explicit line lists over a tiny line vocabulary, so duplicate
  // lines (within AND across docs) are common
  private val linesGen: Gen[List[List[String]]] =
    Gen.chooseNum(3, 8).flatMap { nDocs =>
      Gen.listOfN(nDocs, Gen.chooseNum(1, 6).flatMap { nLines =>
        Gen.listOfN(nLines, Gen.oneOf("aa", "bb", "cc", "dd", "longer line"))
      })
    }

  private def lineRowsDf(corpora: List[List[String]]) = {
    import spark.implicits._
    corpora.zipWithIndex.flatMap { case (lines, d) =>
      lines.zipWithIndex.map { case (l, p) => (d.toLong, p, l) }
    }.toDF("doc_id", "pos", "line")
  }

  property("duplicateLineRowStats equals brute force on arbitrary corpora") =
    forAll(linesGen) { corpora =>
      val got = Dedup.duplicateLineRowStats(lineRowsDf(corpora))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))).toMap
      val expect = corpora.zipWithIndex.map { case (lines, d) =>
        val byLine = lines.groupBy(identity).view.mapValues(_.size).toMap
        val dupLines = byLine.collect { case (_, c) if c >= 2 => c }.sum
        val chars = lines.map(_.length).sum
        val dupChars = byLine.collect { case (l, c) if c >= 2 => c * l.length }.sum
        d.toLong -> (lines.size.toLong, dupLines.toLong, chars.toLong, dupChars.toLong)
      }.toMap
      got == expect
    }

  property("removeDuplicateSpans equals a brute-force reconstruction") =
    forAll(corpusGen) { texts =>
      import spark.implicits._
      val k = 3
      val norm = texts.map(_.toLowerCase.trim.replaceAll("\\s+", " ").split(" ").toVector)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = k)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      // brute force: duplicated k-grams (>= 2 distinct docs), canonical =
      // min doc id; a token is cut when any non-canonical dup gram covers it
      val grams = norm.zipWithIndex.flatMap { case (toks, d) =>
        toks.sliding(k).filter(_.length == k).map(_.mkString(" ") -> d)
      }
      val canon = grams.groupBy(_._1).view
        .mapValues(_.map(_._2).distinct).toMap
        .collect { case (g, ds) if ds.size >= 2 => g -> ds.min }
      val expect = norm.zipWithIndex.flatMap { case (toks, d) =>
        val covered = Array.fill(toks.length)(false)
        toks.sliding(k).zipWithIndex.foreach { case (w, j) =>
          if (w.length == k && canon.get(w.mkString(" ")).exists(_ != d))
            (j until j + k).foreach(covered(_) = true)
        }
        val kept = toks.indices.filterNot(covered).map(toks)
        if (kept.isEmpty) None
        else Some(d.toLong ->
          (kept.mkString(" "), kept.size.toLong, (toks.length - kept.size).toLong))
      }.toMap
      got == expect
    }

  property("removeBoilerplateLines conserves lines and drops exactly the hot ones") =
    forAll(linesGen) { corpora =>
      val minDocs = 2
      val got = Dedup.removeBoilerplateLines(lineRowsDf(corpora), minDocs = minDocs)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      val docCount = corpora.zipWithIndex
        .flatMap { case (lines, d) => lines.distinct.map(_ -> d) }
        .groupBy(_._1).view.mapValues(_.size).toMap
      val boiler = docCount.collect { case (l, n) if n >= minDocs => l }.toSet
      val expect = corpora.zipWithIndex.flatMap { case (lines, d) =>
        val kept = lines.filterNot(boiler)
        if (kept.isEmpty) None
        else Some(d.toLong ->
          (kept.mkString("\n"), kept.size.toLong, (lines.size - kept.size).toLong))
      }.toMap
      got == expect
    }
}
