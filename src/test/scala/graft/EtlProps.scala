package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
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

/** Random pipeline tick sequences against the whole-table gate and the
  * pure anti-join upsert. Apart from [[EtlProps]] only for its case count:
  * a case is a sequence of up to five ticks, about a dozen Spark jobs
  * each. */
object EtlTickProps extends Properties("graft.etl.tick") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = GraftSession(4)

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val hourMs = 3600000L

  /** One tick: its payload's quotes (a repeated coin is an in-batch
    * duplicate key), its batch hour, and the monitor's clock in minutes
    * after that hour. */
  private final case class Tick(quotes: List[(String, Option[Double])], hour: Int,
      nowMinutes: Int) {
    def json: String = quotes.map { case (c, p) =>
      s""""$c":{"usd":${p.fold("null")(_.toString)}}""" }.mkString("{", ",", "}")
    def batchTs = new Timestamp(t0 + hour * hourMs)
    def now = new Timestamp(batchTs.getTime + nowMinutes * 60000L)
  }

  private val priceGen: Gen[Option[Double]] = Gen.frequency(
    20 -> Gen.choose(0, 100000).map(c => Some(c / 100.0)),
    2 -> Gen.const(None),
    1 -> Gen.choose(1, 500).map(c => Some(-c / 100.0)))

  private val quotesGen = Gen.choose(1, 6).flatMap(Gen.listOfN(_,
    Gen.zip(Gen.oneOf("bitcoin", "ethereum", "tether", "solana", "doge"), priceGen)))

  /** Fresh hours, replays of an earlier tick, and new payloads for an
    * earlier hour; clocks up to 9 h late cover Pass, Warn and Fail. */
  private def ticksGen(left: Int, done: List[Tick], nextHour: Int): Gen[List[Tick]] =
    if (left == 0) Gen.const(done.reverse) else for {
      kind <- if (done.isEmpty) Gen.const("fresh")
        else Gen.frequency(3 -> "fresh", 1 -> "replay", 1 -> "earlier")
      nowMinutes <- Gen.choose(0, 9 * 60)
      t <- kind match {
        case "fresh" => quotesGen.map(Tick(_, nextHour, nowMinutes))
        case "replay" => Gen.oneOf(done).map(_.copy(nowMinutes = nowMinutes))
        case _ => Gen.zip(quotesGen, Gen.choose(0, nextHour - 1))
          .map { case (q, h) => Tick(q, h, nowMinutes) }
      }
      ticks <- ticksGen(left - 1, t :: done, math.max(nextHour, t.hour + 1))
    } yield ticks

  property("a tick's gate equals the whole-table gate; its table equals the anti-join upsert's") =
    forAll(Gen.choose(1, 5).flatMap(ticksGen(_, Nil, 0))) { ticks =>
      import scala.jdk.CollectionConverters._
      import scala.util.{Failure, Success, Try}
      import org.apache.spark.sql.Row
      import graft.etl.{Ingest, Pipeline, QualityGate}
      val dir = java.nio.file.Files.createTempDirectory("graft_ticks").toString + "/t"
      def key(r: Row) = (r.getString(0), r.getTimestamp(2))
      def price(r: Row) = Option(r.get(1)).map(_.asInstanceOf[Double])
      var previous = Seq.empty[Row]
      def check(t: Tick): Option[String] = {
        val batch = Ingest.pivotPrices(spark, t.json, t.batchTs)
        val want = Upsert(spark.createDataFrame(previous.asJava, batch.schema), batch,
          Schemas.priceKeys).collect().map(key).toSet
        val got = Try(Pipeline.run(spark, t.json, t.batchTs, dir, t.now))
        val table = spark.read.schema(batch.schema).parquet(dir)
        val gate = QualityGate.evaluate(table, t.now)
        val after = table.collect().toSeq
        val old = previous.map(r => key(r) -> price(r)).toMap
        val offered = t.quotes.groupMap(_._1)(_._2)
        previous = after
        val gateOk = (got, gate) match {
          case (Failure(e: IllegalStateException), f: QualityGate.Fail) =>
            e.getMessage == s"quality gate failed: ${f.message}"
          case (Success(r), g) => r.gate == g
          case _ => false
        }
        val keys = after.map(key)
        if (!gateOk) Some(s"$t: tick gave $got, the table's gate is $gate")
        else if (keys.distinct.size != keys.size || keys.toSet != want)
          Some(s"$t: table keys $keys, anti-join upsert keys $want")
        else after.find(r => old.get(key(r)) match {
          case Some(v) => v != price(r)
          case None => !offered(r.getString(0)).contains(price(r))
        }).map(r => s"$t: row $r is neither the old row nor one of the batch's")
      }
      val failed = ticks.iterator.map(check).collectFirst { case Some(m) => m }
      failed.isEmpty :| failed.getOrElse("")
    }
}
