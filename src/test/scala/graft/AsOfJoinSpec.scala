package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AsOfJoin

class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private val sf = "/root/testdata/sf0.001"

  test("as-of join equals the window-based q29 lookup on real events") {
    import spark.implicits._
    val ev = Tables.events(spark, sf).withColumn("epoch_s", expr("ts div 1000000000"))
    val purchases = ev.filter($"event_type" === "purchase")
    val signups = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"epoch_s".as("signup_epoch"))
    val joined = AsOfJoin(purchases, signups, Seq("user_id"), "ts", "ts",
      Seq("signup_epoch"))
      .select($"event_id",
        date_format(timestamp_seconds($"signup_epoch"), "yyyy-MM-dd HH:mm:ss")
          .as("last_signup_time"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap

    val expected = queries.Events.q29(spark, sf)
      .select($"event_id", $"last_signup_time")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap

    assert(joined == expected)
  }

  test("native as-of exec equals the window-based q29 lookup on real events") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val signups = ev.filter($"event_type" === "signup").select($"user_id", $"ts")
    val joined = graft.plans.NativeAsOf.join(purchases, signups,
      Seq("user_id"), "ts", "ts")
    assert(joined.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "must plan through AsOfJoinExec")
    val got = joined
      .select($"event_id",
        date_format(timestamp_seconds(expr("ts_r div 1000000000")),
          "yyyy-MM-dd HH:mm:ss").as("last_signup_time"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val expected = queries.Events.q29(spark, sf)
      .select($"event_id", $"last_signup_time")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == expected)
  }

  test("native as-of edge cases: no prior match, inclusive ties, empty right") {
    import spark.implicits._
    val left = Seq((1L, 100L), (1L, 200L), (2L, 50L), (3L, 10L))
      .toDF("k", "t")
    val right = Seq((1L, 100L, "tie"), (1L, 150L, "mid"), (2L, 60L, "late"))
      .toDF("k", "t", "v")
    val out = graft.plans.NativeAsOf.join(left, right, Seq("k"), "t", "t")
      .select($"k", $"t", $"v")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(2)))
      .toMap
    assert(out((1L, 100L)).contains("tie"), "right.ts == left.ts must match")
    assert(out((1L, 200L)).contains("mid"))
    assert(out((2L, 50L)).isEmpty, "right row later than left must not match")
    assert(out((3L, 10L)).isEmpty, "key with no right rows gets nulls")

    val empty = graft.plans.NativeAsOf.join(
      left, right.filter($"k" < 0), Seq("k"), "t", "t")
    assert(empty.count() == 4 && empty.filter($"v".isNotNull).count() == 0)
  }

  test("native as-of equals composed as-of on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val left = Seq.fill(400)((rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      .toDF("lid", "k", "t")
    // distinct right ts per key so equal-ts payload ties can't differ
    // between the two implementations' tie-break orders
    val right = Seq.fill(300)((rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong))
      .distinct.map { case (k, t) => (k, t, s"p$k-$t") }
      .toDF("k", "t", "payload")
    val native = graft.plans.NativeAsOf.join(left, right, Seq("k"), "t", "t")
      .select($"lid", $"payload")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val composed = AsOfJoin(left, right.select($"k", $"t", $"payload"),
        Seq("k"), "t", "t", Seq("payload"))
      .select($"lid", $"payload")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(native == composed)
  }

  test("native as-of over bucketed tables plans zero exchanges") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val signups = ev.filter($"event_type" === "signup").select($"user_id", $"ts")
    sources.Sources.writeBucketed(purchases, "purchases_b", "user_id", 4)
    sources.Sources.writeBucketed(signups, "signups_b", "user_id", 4)
    try {
      // AsOfJoinExec's declared ClusteredDistribution is satisfied by the
      // bucketed layout on both sides — the lake's (key, time) bucketing IS
      // the join's shuffle, so EnsureRequirements inserts sorts only. This
      // is the 100 TB shape: repeated as-of lookups against a bucketed
      // fact/dim pair never reshuffle either side.
      val joined = graft.plans.NativeAsOf.join(
        spark.table("purchases_b"), spark.table("signups_b"),
        Seq("user_id"), "ts", "ts")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), s"must plan the native exec:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed as-of must not shuffle:\n$plan")
      val got = joined.select($"event_id", $"ts_r")
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      val expected = graft.plans.NativeAsOf.join(purchases, signups,
          Seq("user_id"), "ts", "ts")
        .select($"event_id", $"ts_r")
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(got == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS purchases_b")
      spark.sql("DROP TABLE IF EXISTS signups_b")
    }
  }

  test("native as-of realigns children arriving with different partitionings") {
    import spark.implicits._
    // Left arrives hash-partitioned on the WRONG key at a non-default
    // partition count; right arrives range-partitioned on time. Neither
    // satisfies ClusteredDistribution(k), so EnsureRequirements must insert
    // exchanges on BOTH sides — and the doExecute partition-count assertion
    // must hold after it does.
    val left = Seq((1L, 100L), (1L, 200L), (2L, 50L), (3L, 10L))
      .toDF("k", "t").repartition(7, $"t")
    val right = Seq((1L, 100L, "tie"), (1L, 150L, "mid"), (2L, 60L, "late"))
      .toDF("k", "t", "v").repartitionByRange(3, $"t")
    val joined = graft.plans.NativeAsOf.join(left, right, Seq("k"), "t", "t")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"must plan the native exec:\n$plan")
    val out = joined.select($"k", $"t", $"v")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(2)))
      .toMap
    assert(out((1L, 100L)).contains("tie"))
    assert(out((1L, 200L)).contains("mid"))
    assert(out((2L, 50L)).isEmpty)
    assert(out((3L, 10L)).isEmpty)
  }

  test("tolerance nulls out stale matches") {
    import spark.implicits._
    val left = Seq((1L, 100L), (1L, 500L)).toDF("k", "t")
    val right = Seq((1L, 90L, "a"), (1L, 200L, "b")).toDF("k", "t", "v")
      .select($"k", $"t", $"v".as("payload"))
    val out = AsOfJoin(left, right, Seq("k"), "t", "t", Seq("payload"),
      tolerance = Some(lit(50L)))
      .orderBy($"t").collect()
    assert(Option(out(0).getString(2)).contains("a"))   // 100-90=10 <= 50
    assert(out(1).isNullAt(2), "500-200=300 > 50 must be nulled")
  }
}
