package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.etl.{Schemas, Upsert}
import graft.operators.Dedup

/** Property-based checks (SURVEY.md §5.3): upsert idempotency and dedup
  * invariants over arbitrary generated batches. */
object EtlProps extends Properties("graft.etl") {

  private lazy val spark = GraftSession(4)

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private val rowGen: Gen[(String, Double, Timestamp)] = for {
    coin <- Gen.oneOf("bitcoin", "ethereum", "tether", "solana", "doge")
    price <- Gen.choose(0, 100000).map(_ / 100.0)
    hour <- Gen.choose(0, 5)
  } yield (coin, price, new Timestamp(t0 + hour * 3600000L))

  private val batchGen: Gen[List[(String, Double, Timestamp)]] =
    Gen.listOfN(12, rowGen)

  property("upsert is idempotent: applying a batch twice equals once") =
    forAll(batchGen) { batch =>
      import spark.implicits._
      val df = batch.toDF("crypto_id", "price_usd", "extracted_at")
      val once = Upsert(df.limit(0), df, Schemas.priceKeys)
      val twice = Upsert(once, df, Schemas.priceKeys)
      once.count() == twice.count() &&
        once.count() == batch.map(r => (r._1, r._3)).distinct.size
    }

  property("upsert never replaces an existing key's value") =
    forAll(batchGen, batchGen) { (a, b) =>
      import spark.implicits._
      val ex = a.toDF("crypto_id", "price_usd", "extracted_at")
        .dropDuplicates(Schemas.priceKeys)
      val inc = b.toDF("crypto_id", "price_usd", "extracted_at")
      val after = Upsert(ex, inc, Schemas.priceKeys)
      val exMap = ex.collect().map(r => (r.getString(0), r.getTimestamp(2)) -> r.getDouble(1)).toMap
      after.collect().forall { r =>
        exMap.get((r.getString(0), r.getTimestamp(2)))
          .forall(_ == r.getDouble(1))
      }
    }

  private val textGen: Gen[List[String]] = Gen.listOfN(8,
    Gen.listOfN(6, Gen.oneOf("spark", "data", "merge", "join", "scan", "row"))
      .map(_.mkString(" ")))

  property("exact dedup keeps exactly one representative per distinct text") =
    forAll(textGen) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val kept = Dedup.exact(docs, $"text", $"doc_id").filter($"keep")
      kept.count() == texts.map(_.trim.toLowerCase.replaceAll("\\s+", " ")).distinct.size
    }

  property("winnowing: docs sharing a run of >= w+k-1 tokens share a fingerprint") =
    forAll(textGen, textGen) { (as, bs) =>
      import spark.implicits._
      // plant a shared 7-token run (w=4, k=4 → w+k-1 = 7) in two docs
      val shared = "alpha beta gamma delta epsilon zeta eta"
      val docA = as.headOption.getOrElse("x") + " " + shared
      val docB = shared + " " + bs.headOption.getOrElse("y")
      val docs = Seq((0L, docA), (1L, docB)).toDF("doc_id", "text")
      val fps = Dedup.winnowingFingerprints(docs, "doc_id", "text", k = 4, w = 4)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val a = fps.filter(_._1 == 0L).map(_._2).toSet
      val b = fps.filter(_._1 == 1L).map(_._2).toSet
      (a & b).nonEmpty
    }

  property("prefix-filtered jaccard join is lossless vs brute force") =
    forAll(textGen) { texts =>
      import spark.implicits._
      // brute-force word-3-gram jaccard on the driver
      def shingles(t: String): Set[String] = {
        val toks = t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ")
        toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }
      val expected = (for {
        (a, i) <- texts.zipWithIndex
        (b, j) <- texts.zipWithIndex
        if i < j
        sa = shingles(a); sb = shingles(b)
        if sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size
        jac = inter.toDouble / (sa.size + sb.size - inter)
        if jac >= 0.6
      } yield (i.toLong, j.toLong)).toSet
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.ngramJaccardJoin(docs, "doc_id", "text", 3, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got == expected
    }

  property("equi-depth buckets partition any multiset with ordered ranges") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 500).map(_ / 100.0))) { values =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val df = values.toDF("x")
      val rows = graft.operators.EquiDepth.histogram(df, col("x"),
          buckets = 4, slices = 8)
        .orderBy(col("bucket")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      val partitions = rows.map(_._2).sum == values.size.toLong
      val ordered = rows.sliding(2).forall {
        case Array((_, _, _, prevMax), (_, _, curMin, _)) => curMin > prevMax
        case _ => true
      }
      val bounded = rows.forall { case (b, _, lo, hi) =>
        b >= 1 && b <= 4 && lo <= hi &&
          lo >= values.min && hi <= values.max
      }
      // duplicates never straddle buckets: each distinct value appears in
      // exactly one bucket's [min_v, max_v] span (ranges are disjoint)
      partitions && ordered && bounded
    }
}
