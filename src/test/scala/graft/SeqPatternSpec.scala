package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SeqPattern

class SeqPatternSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)
  import SeqPattern.{Step, firstContiguousMatch, funnel, stepTimes}

  private def ev(rows: (Long, Long, Long, String, Double)*) = {
    import spark.implicits._
    rows.toDF("user_id", "ts", "event_id", "event_type", "value")
  }

  test("stepTimes honors order: a step before the previous step's time does not count") {
    import spark.implicits._
    val e = ev(
      (1L, 10L, 1L, "A", 0.0), (1L, 20L, 2L, "B", 0.0), // in order → both
      (2L, 20L, 3L, "B", 0.0), (2L, 30L, 4L, "A", 0.0)) // B before A → step2 empty for u2
    val ts = stepTimes(e, "user_id", "ts",
      Seq(Step("a", $"event_type" === "A"), Step("b", $"event_type" === "B")))
    assert(ts(0).count() == 2)
    assert(ts(1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 20L)))
  }

  test("within deadline excludes late steps") {
    import spark.implicits._
    val e = ev(
      (1L, 0L, 1L, "A", 0.0), (1L, 5L, 2L, "B", 0.0),   // within 10
      (2L, 0L, 3L, "A", 0.0), (2L, 50L, 4L, "B", 0.0))  // past deadline
    val f = funnel(e, "user_id", "ts",
      Seq(Step("1a", $"event_type" === "A"),
        Step("2b", $"event_type" === "B", Some(lit(10L)))))
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(f == Map("1a" -> 2L, "2b" -> 1L))
  }

  test("contiguous A B* C: interloper kills, empty B* matches, first match wins") {
    import spark.implicits._
    val e = ev(
      // u1: A B B C → match, 2 views
      (1L, 10L, 1L, "A", 0.0), (1L, 20L, 2L, "B", 0.0),
      (1L, 30L, 3L, "B", 0.0), (1L, 40L, 4L, "C", 7.5),
      // u2: A X C → interloper X kills the match
      (2L, 10L, 5L, "A", 0.0), (2L, 20L, 6L, "X", 0.0), (2L, 30L, 7L, "C", 1.0),
      // u3: A C → zero-length B* matches
      (3L, 10L, 8L, "A", 0.0), (3L, 20L, 9L, "C", 2.0),
      // u4: two matches (A C A C) → first one returned
      (4L, 10L, 10L, "A", 0.0), (4L, 20L, 11L, "C", 3.0),
      (4L, 30L, 12L, "A", 0.0), (4L, 40L, 13L, "C", 4.0))
    val got = firstContiguousMatch(e, "user_id", "ts", "event_id",
        aPred = $"event_type" === "A", bPred = $"event_type" === "B",
        cPred = $"event_type" === "C",
        captures = Seq("cents" ->
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 10L, 40L, 2, 750L),
      (3L, 10L, 20L, 0, 200L),
      (4L, 10L, 20L, 0, 300L)))
  }

  test("stepTimes on real events: times are monotone and cohorts shrink") {
    import spark.implicits._
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    val ts = stepTimes(e, "user_id", "ts",
      Seq(Step("s", $"event_type" === "signup"),
        Step("v", $"event_type" === "view"),
        Step("p", $"event_type" === "purchase")))
    val counts = ts.map(_.count())
    assert(counts(0) >= counts(1) && counts(1) >= counts(2),
      s"cohorts must shrink: $counts")
    // every step-k time is >= that user's step-(k-1) time
    val bad01 = ts(1).withColumnRenamed("t", "t2")
      .join(ts(0), "user_id").filter($"t2" < $"t").count()
    val bad12 = ts(2).withColumnRenamed("t", "t3")
      .join(ts(1), "user_id").filter($"t3" < $"t").count()
    assert(bad01 == 0 && bad12 == 0, "step times must be monotone per user")
  }

  test("all-matches numbering is dense and firstContiguousMatch equals match 1") {
    import spark.implicits._
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    val all = SeqPattern.contiguousMatches(e, "user_id", "ts", "event_id",
      $"event_type" === "signup", $"event_type" === "view",
      $"event_type" === "purchase", Seq("cents" -> lit(0L)))
    val dense = all.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), max($"match_no").as("mx"),
        min($"match_no").as("mn"))
      .filter($"n" =!= $"mx" || $"mn" =!= 1).count()
    assert(dense == 0, "match_no must be dense 1..n per user")
    val first = SeqPattern.firstContiguousMatch(e, "user_id", "ts", "event_id",
      $"event_type" === "signup", $"event_type" === "view",
      $"event_type" === "purchase", Seq("cents" -> lit(0L)))
      .select($"user_id", $"a_ord", $"c_ord", $"n_mid")
    val firstOfAll = all.filter($"match_no" === 1)
      .select($"user_id", $"a_ord", $"c_ord", $"n_mid")
    assert(first.exceptAll(firstOfAll).count() == 0 &&
      firstOfAll.exceptAll(first).count() == 0)
  }

  test("A at end of stream (no following non-B row) does not match") {
    import spark.implicits._
    val e = ev((1L, 10L, 1L, "A", 0.0), (1L, 20L, 2L, "B", 0.0))
    val got = firstContiguousMatch(e, "user_id", "ts", "event_id",
      $"event_type" === "A", $"event_type" === "B", $"event_type" === "C",
      Seq("cents" -> lit(0L)))
    assert(got.count() == 0)
  }
}
