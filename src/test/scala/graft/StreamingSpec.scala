package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private val sf = "/root/testdata/sf0.001"

  test("streaming hourly trend equals the batch dashboard aggregation") {
    val streamed = Streams.runToMemory(spark,
      Streams.hourlyTrend(Streams.eventsStream(spark, sf)), "trend_stream")
      .select("hour_start", "event_type", "n_events", "sum_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = queries.Events.q24(spark, sf)
      .select(col("hour_start"), col("event_type"), col("n_events"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
  }

  test("streaming session windows cover every user with plausible sessions") {
    val sessions = Streams.runToMemory(spark,
      Streams.sessionWindows(Streams.eventsStream(spark, sf)), "session_stream")
    val perUser = sessions.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(perUser.size == users, "every user must have at least one session")
    assert(perUser.values.forall(_ >= 1))
    // session count per user must match the batch sessionizer's
    val batchSessions = queries.Events.q27(spark, sf)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perUser == batchSessions,
      "streaming session_window and batch lag+cumsum sessionizer disagree")
  }

  test("mapGroupsWithState accumulates per-user counts across the stream") {
    val updates = Streams.runDatasetToMemory(spark,
      Streams.userRunningCounts(spark, Streams.eventsStream(spark, sf)),
      "user_state_stream", OutputMode.Update())
    // final state per user = total events for that user
    val finalCounts = updates.groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Tables.events(spark, sf).groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts == expected)
  }

  test("transformWithState (StatefulProcessor + RocksDB) matches mapGroupsWithState") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val updates = Streams.runDatasetToMemory(spark,
        Streams.userRunningCountsTws(spark, Streams.eventsStream(spark, sf)),
        "user_tws_stream", OutputMode.Update())
      val finalCounts = updates.groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = Tables.events(spark, sf).groupBy(col("user_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(finalCounts == expected)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("flatMapGroupsWithState sessionizer matches the batch lag+cumsum sessions") {
    val streamed = Streams.runDatasetToMemory(spark,
      Streams.sessionizeWithState(spark, Streams.eventsStream(spark, sf)),
      "fmgws_sessions", OutputMode.Append())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // batch twin: q27 emits (user, session) rows with formatted bounds;
    // recompute epoch bounds + counts from the same operator definition
    val batch = queries.Events.q27(spark, sf)
      .select(col("user_id"),
        unix_timestamp(col("session_start")).as("s"),
        unix_timestamp(col("session_end")).as("e"),
        col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch,
      s"state-sessionizer divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
  }

  test("stream-stream interval join matches the batch join pair set") {
    import spark.implicits._
    val streamed = SparkEntry.queries("q58_stream_interval_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.events(spark, sf)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ns"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ns"))
    val batch = views.join(purchases,
        expr("v_user = p_user AND p_ns - v_ns BETWEEN 0 AND 3600000000000"))
      .select($"view_id", $"purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "batch interval join found no pairs — test is vacuous")
    assert(streamed == batch,
      s"stream-stream join divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
  }

  test("stream-static dimension join matches the batch left join") {
    import spark.implicits._
    val streamed = SparkEntry.queries("q121_stream_static_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    val batch = Tables.events(spark, sf).as("e")
      .join(Tables.customer(spark, sf).as("c"),
        col("e.user_id") === col("c.c_custkey"), "left")
      .select($"event_id", coalesce($"c_mktsegment", lit("none")).as("segment"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream-static divergence on ${(streamed.toSet diff batch.toSet).take(3)}")
  }

  test("interval join on RocksDB: watermark advance evicts state across batches") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.Trigger
    // Split events into 4 time-ordered chunk files; maxFilesPerTrigger=1
    // turns the AvailableNow drain into 4 micro-batches, so the watermark
    // (max event time - 2h) advances BETWEEN batches and must release
    // buffered join state. Chunks are strictly time-ordered, so nothing is
    // late and the pair set still equals the batch join's.
    val ev = Tables.events(spark, sf)
    val bounds = ev.stat.approxQuantile("ts", Array(0.25, 0.5, 0.75), 0.0)
      .map(_.toLong).toSeq
    val cuts = (Long.MinValue +: bounds :+ Long.MaxValue).sliding(2).toSeq
    val dir = Files.createTempDirectory("graft_rocks_ij").toString
    cuts.zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      val tmp = s"$dir/_chunk$i"
      ev.filter(col("ts") >= lo && col("ts") < hi).coalesce(1)
        .write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      // ordered names so batch order follows event time
      Files.copy(Paths.get(part), Paths.get(f"$dir/events_$i%02d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val joined = Streams.viewPurchaseIntervalJoin(spark, dir,
        glob = "events_*.parquet", maxFilesPerTrigger = Some(1))
      spark.catalog.dropTempView("rocks_interval")
      val q = joined.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("rocks_interval")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val stateTotals = q.recentProgress.toSeq
        .filter(_.stateOperators.nonEmpty)
        .map(p => p.stateOperators.map(_.numRowsTotal).sum)
      assert(stateTotals.size >= 3,
        s"expected multiple stateful micro-batches, got $stateTotals")
      // each quartile spans weeks of event time; the 2h watermark + 1h join
      // range must leave the final batch holding a small tail, not the stream
      assert(stateTotals.last < stateTotals.max,
        s"state never shrank across batches: $stateTotals")
      val streamed = spark.table("rocks_interval")
        .select(col("view_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
          col("ts").as("v_ns"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ns"))
      val batch = views.join(purchases,
          expr("v_user = p_user AND p_ns - v_ns BETWEEN 0 AND 3600000000000"))
        .select(col("view_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch,
        s"multi-batch RocksDB join diverged: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("dropDuplicatesWithinWatermark removes replayed events") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // a directory holding the same events file twice = a stream with every
    // record duplicated
    val dir = Files.createTempDirectory("graft_dup").toString
    val src = Paths.get(s"$sf/events.parquet")
    Files.copy(src, Paths.get(s"$dir/events_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(src, Paths.get(s"$dir/events_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = Tables.normalizeEventsTs(
        spark.readStream.schema(schema).parquet(dir))
      .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
    val deduped = Streams.runToMemory(spark,
      Streams.dedupWithinWatermark(stream, Seq("event_id")),
      "dedup_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    val expected = Tables.events(spark, sf).count()
    assert(deduped.count() == expected,
      s"expected $expected distinct events, got ${deduped.count()}")
  }

  test("incremental rollup merges batches exactly once across replays") {
    import graft.streaming.Rollup
    val base = java.nio.file.Files.createTempDirectory("graft_rollup_spec").toString
    val table = s"$base/table"
    val ev = Streams.eventsStream(spark, sf) // batch-shaped: just for schema parity
    // two half-batches by user parity, delivered as batch ids 0 and 1
    val evBatch = Tables.events(spark, sf)
      .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
    val b0 = Rollup.hourlyPartials(evBatch.filter(col("user_id") % 2 === 0))
    val b1 = Rollup.hourlyPartials(evBatch.filter(col("user_id") % 2 === 1))
    assert(Rollup.mergeInto(spark, b0, table, Seq("event_type", "hour_start"), 0L))
    assert(Rollup.mergeInto(spark, b1, table, Seq("event_type", "hour_start"), 1L))
    // replayed batch (same id) must be a no-op
    assert(!Rollup.mergeInto(spark, b1, table, Seq("event_type", "hour_start"), 1L),
      "replayed batch id must be skipped")
    // EARLIER batch replays must also be no-ops — the ledger has to survive
    // later merges (a ledger stored inside an overwritten table path would
    // fail exactly this)
    assert(!Rollup.mergeInto(spark, b0, table, Seq("event_type", "hour_start"), 0L),
      "batch 0's commit record must survive batch 1's merge")
    val got = Rollup.readRollup(spark, table)
      .select(col("event_type"), col("hour_start"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val expected = Rollup.hourlyPartials(evBatch)
      .select(col("event_type"), col("hour_start"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == expected,
      s"incremental != from-scratch: ${(got.toSet diff expected.toSet).take(3)}")
    assert(ev.schema.fieldNames.contains("ts_us"))
  }

  test("rollup crash mid-write does not double-count the replayed batch") {
    import graft.streaming.Rollup
    val base = java.nio.file.Files.createTempDirectory("graft_rollup_crash").toString
    val table = s"$base/table"
    val evBatch = Tables.events(spark, sf)
      .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
    val keys = Seq("event_type", "hour_start")
    val b0 = Rollup.hourlyPartials(evBatch.filter(col("user_id") % 2 === 0))
    val b1 = Rollup.hourlyPartials(evBatch.filter(col("user_id") % 2 === 1))
    assert(Rollup.mergeInto(spark, b0, table, keys, 0L))
    // simulate a crash DURING batch 1's write: partial task files landed in
    // the version dir but the committer's _SUCCESS (the atomic commit point)
    // never did — v_0 is still the committed state (pruning only runs after
    // a successful commit), and batch 1 must NOT count as applied
    val torn = new java.io.File(s"$table/v_1")
    assert(torn.mkdirs())
    java.nio.file.Files.write(torn.toPath.resolve("part-00000-torn.parquet"),
      Array[Byte](0, 1, 2, 3))
    assert(!Rollup.committed(spark, table, 1L),
      "a version dir without _SUCCESS must not count as committed")
    // the replayed batch re-merges from the last COMMITTED state (v_0) and
    // overwrites the torn dir — final table equals the from-scratch answer
    assert(Rollup.mergeInto(spark, b1, table, keys, 1L),
      "replay of a torn batch must run")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), col("hour_start"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(key(Rollup.readRollup(spark, table)) == key(Rollup.hourlyPartials(evBatch)),
      "torn-write replay must yield the exact from-scratch rollup")
  }

  test("rollup retraction subtracts exactly, drops emptied groups, survives replay") {
    import graft.streaming.Rollup
    val base = java.nio.file.Files.createTempDirectory("graft_rollup_retr").toString
    val table = s"$base/table"
    val evBatch = Tables.events(spark, sf)
      .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
    val keys = Seq("event_type", "hour_start")
    assert(Rollup.mergeInto(spark, Rollup.hourlyPartials(evBatch), table, keys, 0L))
    val nBefore = Rollup.readRollup(spark, table).count()
    // retract one user-slice; table must equal the from-scratch recompute
    val del = Tables.events(spark, sf).filter(col("user_id") % 10 === 3)
    Rollup.retractHourly(spark, del, table)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), col("hour_start"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val want = snap(Rollup.hourlyPartials(
      evBatch.filter(col("user_id") % 10 =!= 3)))
    assert(snap(Rollup.readRollup(spark, table)) == want,
      "retraction must equal the from-scratch recompute over survivors")
    // no tombstones: every surviving group has a positive count
    val counts = Rollup.readRollup(spark, table)
      .select(col("n_events")).collect().map(_.getLong(0))
    assert(counts.forall(_ > 0), "fully-deleted groups must leave no row")
    // retracting EVERYTHING empties the table without tombstone rows
    Rollup.retractHourly(spark,
      Tables.events(spark, sf).filter(col("user_id") % 10 =!= 3), table)
    assert(Rollup.readRollup(spark, table).count() == 0)
    assert(nBefore > 0)
    // replaying a retraction version id is a no-op (the ledger check):
    // mergeInto with an already-committed id returns false
    assert(!Rollup.mergeInto(spark,
      Rollup.hourlyPartials(evBatch), table, keys, 0L))
  }

  test("streaming distinct users dedups across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // A user active in both micro-batches within one hour must count ONCE —
    // only dedup state carried from batch 1 into batch 2 can know that.
    // The split is by TIME (not interleaved): a time-interleaved replay
    // would land batch 2 below batch 1's advanced watermark and the
    // dedup's late-data drop — the event-time contract, not a bug — so
    // the fixture splits mid-hour: user 1 appears in hour H before AND
    // after the split.
    val base = 1704412800L * 1000000L // 2024-01-05 00:00:00 UTC, hour edge
    val mk = (id: Long, offUs: Long, uid: Long) => (id, base + offUs, uid)
    val batchA = Seq(
      mk(1L, 5L * 60000000L, 1L),    // H0 00:05 user1
      mk(2L, 20L * 60000000L, 2L))   // H0 00:20 user2
    val batchB = Seq(
      mk(3L, 40L * 60000000L, 1L),   // H0 00:40 user1 AGAIN (must dedup)
      mk(4L, 70L * 60000000L, 1L),   // H1 01:10 user1 (new hour → counts)
      mk(5L, 80L * 60000000L, 3L))   // H1 01:20 user3
    val dir = java.nio.file.Files.createTempDirectory("graft_distu").toString
    Seq(("half_a", batchA), ("half_b", batchB)).foreach { case (name, rows) =>
      val stage = s"$dir/_stage_$name"
      rows.toDF("event_id", "eus", "user_id")
        .select($"event_id", timestamp_micros($"eus").as("ts"), $"user_id",
          lit("click").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    val du = Streams.hourlyDistinctUsers(Streams.eventsStream(spark, dir,
      glob = "half_*.parquet", maxFilesPerTrigger = Some(1)))
    val got = Streams.runToMemory(spark, du, "distu_spec_sink")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hour 0: users {1, 2} — user1's second event arrived in batch 2 and
    // must be suppressed by carried state; hour 1: users {1, 3}
    assert(got == Map("2024-01-05 00:00:00" -> 2L, "2024-01-05 01:00:00" -> 2L),
      s"got $got")
  }

  test("incremental near-dup collides across micro-batches with no lost pairs") {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_stream").toString
    val docs = Tables.documents(spark, sf)
    // two half-corpora delivered as SEPARATE micro-batches: pairs that
    // straddle the halves can only be found through the band-bucket state
    // carried from batch 1 into batch 2. The file-stream glob matches
    // FILES, so stage each half and move its single part file into place.
    Seq(("half_a", 0), ("half_b", 1)).foreach { case (name, parity) =>
      val stage = s"$dir/_stage_$name"
      docs.filter(col("doc_id") % 2 === parity).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    val got = Streams.streamingNearDupCandidates(spark, dir,
        glob = "half_*.parquet", maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // oracle: the batch operator's full candidate set (threshold 0 keeps
    // every banded pair) over the SAME corpus — bit-identical signatures
    // mean set equality, not just overlap
    val want = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
        k = 3, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"streaming candidates diverge: missing=${(want diff got).take(3)} extra=${(got diff want).take(3)}")
    val crossBatch = got.count { case (a, b) => a % 2 != b % 2 }
    assert(crossBatch > 0,
      "no cross-half pairs — the state never collided across batches")
  }

  test("streaming heavy hitters accumulate exactly across micro-batches") {
    // two time-split halves delivered as separate micro-batches: the final
    // per-shard summary (seq-max selection) must equal the exact batch
    // counts — state carries batch 1's counts into batch 2, and the
    // re-emitted summary from batch 1 is superseded, not double-counted.
    val dir = java.nio.file.Files.createTempDirectory("graft_hh_stream").toString
    val ev = Tables.events(spark, sf)
    Seq(("hh_a", 0), ("hh_b", 1)).foreach { case (name, parity) =>
      val stage = s"$dir/_stage_$name"
      ev.filter(col("event_id") % 2 === parity).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }
    val got = Streams.streamingHeavyHitters(spark, dir, glob = "hh_*.parquet",
        shards = 4, capacity = 4096, maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = ev.groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.map(r => r._1 -> r._2).toMap == want,
      "exact-capacity summary diverges from batch counts")
    assert(got.forall(_._3 == 0L), "no eviction should occur below capacity")
  }

  test("streaming heavy hitters obey SpaceSaving bounds under eviction") {
    // capacity 5 over 15 distinct users forces evictions; the classic
    // invariants must hold for every surviving counter:
    //   true ≤ est  and  est − err ≤ true  and  |summary| ≤ capacity.
    val got = Streams.streamingHeavyHitters(spark, sf,
        shards = 1, capacity = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = Tables.events(spark, sf).groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.length <= 5, s"summary exceeded capacity: ${got.length}")
    got.foreach { case (item, est, err) =>
      val t = want(item)
      assert(est >= t, s"item $item: est $est < true $t")
      assert(est - err <= t, s"item $item: est-err ${est - err} > true $t")
    }
  }

  test("streaming freshness gate reads event-time lag from query progress") {
    import graft.streaming.StreamingFreshness
    val (_, progress) = Streams.runToMemoryTracked(spark,
      Streams.hourlyTrend(Streams.eventsStream(spark, sf)), "fresh_stream")
    val fp = progress.reverseIterator.map(StreamingFreshness.fromProgress)
      .find(_.maxEventTime.isDefined)
    assert(fp.isDefined, "watermarked drain must report an event-time max")
    // the progress high-water mark is the batch table's max(ts) — progress
    // reports format event times at millisecond precision, so compare there
    val batchMaxUs = Tables.events(spark, sf)
      .agg(max(expr("ts div 1000"))).head().getLong(0)
    assert(fp.get.maxEventTime.get.getTime == batchMaxUs / 1000,
      s"progress max ${fp.get.maxEventTime.get} != batch max ${batchMaxUs}us")
    // severity ladder vs an explicit monitor clock, mirroring the batch gate
    def at(hoursAfter: Long) = new java.sql.Timestamp(
      fp.get.maxEventTime.get.getTime + hoursAfter * 3600000L)
    assert(StreamingFreshness.gate(fp, at(1)) == graft.etl.QualityGate.Pass)
    assert(StreamingFreshness.gate(fp, at(3)).isInstanceOf[graft.etl.QualityGate.Warn])
    assert(StreamingFreshness.gate(fp, at(7)).isInstanceOf[graft.etl.QualityGate.Fail])
    assert(StreamingFreshness.gate(None, at(0)).isInstanceOf[graft.etl.QualityGate.Fail],
      "no progress at all must gate as Fail, like the batch empty-table arm")
  }

  test("always-on freshness listener captures the newest event-time mark") {
    import graft.streaming.StreamingFreshness
    val listener = new StreamingFreshness.FreshnessListener
    spark.streams.addListener(listener)
    try {
      val (_, progress) = Streams.runToMemoryTracked(spark,
        Streams.hourlyTrend(Streams.eventsStream(spark, sf)), "fresh_listen")
      val fromHandle = progress.reverseIterator
        .map(StreamingFreshness.fromProgress).find(_.maxEventTime.isDefined)
      // listener bus delivery is async — poll briefly
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var captured = listener.all
      while (captured.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100); captured = listener.all
      }
      assert(captured.nonEmpty, "listener saw no informative progress in 30s")
      assert(captured.values.map(_.maxEventTime).toSet
        .contains(fromHandle.get.maxEventTime),
        "listener high-water mark must match the query handle's")
    } finally spark.streams.removeListener(listener)
  }

  test("q155 session_window merges a touching gap but splits one microsecond beyond") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // session_window semantics are microsecond-exact and INCLUSIVE:
    // last_ts + exactly 1800.000000s still merges (touching windows),
    // 1800.000001s opens a new session. Batch q27 truncates to seconds
    // first, so the 1800.000001s pair MERGES there (diff 1800 is not
    // > 1800) — the documented divergence this fixture pins. The
    // production oracle (q155Sql) states the us-exact inclusive rule.
    val base = 1704412800L * 1000000L
    val rows = Seq(
      (1L, base, 1L), (2L, base + 1800000000L, 1L),      // touching: merge
      (3L, base, 2L), (4L, base + 1800000001L, 2L),      // 1us beyond: split
      (5L, base, 3L), (6L, base + 1799000000L, 3L))      // inside: merge
    val dir = java.nio.file.Files.createTempDirectory("graft_sw").toString
    rows.toDF("event_id", "eus", "user_id")
      .select($"event_id", timestamp_micros($"eus").as("ts"), $"user_id",
        lit("click").as("event_type"), lit(1.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stage")
    // the file-stream glob expects a single FILE named events.parquet
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val streamed = queries.Events.q155(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(streamed.count(_._1 == 1L) == 1,
      s"touching windows must merge: ${streamed.toList}")
    assert(streamed.count(_._1 == 2L) == 2,
      s"one us beyond the gap must split: ${streamed.toList}")
    assert(streamed.count(_._1 == 3L) == 1, "1799s gap must merge")
    val batch = queries.Events.q27(spark, dir).collect()
      .filter(_.getLong(0) == 2L)
    assert(batch.length == 1,
      "batch q27 (second-truncated, diff > 1800) merges the 1800.000001s pair")
  }

  test("q157 outer interval join: inner pairs preserved, every cutoff view emits") {
    import org.apache.spark.sql.functions._
    val rows = queries.Events.q157(spark, sf).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(rows.exists(_._2.isEmpty), "some views must be unconverted")
    assert(rows.exists(_._2.nonEmpty), "some views must convert")
    // matched pairs == the batch inner join restricted to cutoff views
    val maxNs = Tables.events(spark, sf).agg(max(col("ts"))).head.getLong(0)
    val cutoff = maxNs - 4L * 3600 * 1000000000L
    val ev = Tables.events(spark, sf)
    val v = ev.filter(col("event_type") === "view" && col("ts") <= cutoff)
      .select(col("event_id").as("view_id"), col("user_id").as("u"), col("ts").as("vts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("u"), col("ts").as("pts"))
    val inner = v.join(p, "u")
      .filter(col("pts") >= col("vts") && col("pts") <= col("vts") + 3600L * 1000000000L)
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), Some(r.getLong(1)))).toSet
    assert(rows.filter(_._2.nonEmpty).toSet == inner,
      "matched pairs must equal the batch inner join")
    // completeness: every cutoff view appears (matched or null-extended)
    val allViews = v.select("view_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == allViews,
      "every retained view must emit at least one row")
  }

  test("q286 right outer join: organic purchases null-complete, matches equal batch inner") {
    import org.apache.spark.sql.functions._
    val rows = queries.Events.q286(spark, sf).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1)))
    assert(rows.exists(_._1.isEmpty), "some purchases must be organic (no view)")
    assert(rows.exists(_._1.nonEmpty), "some purchases must be view-attributed")
    val maxNs = Tables.events(spark, sf).agg(max(col("ts"))).head.getLong(0)
    val cutoff = maxNs - 4L * 3600 * 1000000000L
    val ev = Tables.events(spark, sf)
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("u"), col("ts").as("vts"))
    val p = ev.filter(col("event_type") === "purchase" && col("ts") <= cutoff)
      .select(col("event_id").as("purchase_id"), col("user_id").as("u"), col("ts").as("pts"))
    val inner = v.join(p, "u")
      .filter(col("pts") >= col("vts") && col("pts") <= col("vts") + 3600L * 1000000000L)
      .select("view_id", "purchase_id").collect()
      .map(r => (Some(r.getLong(0)), r.getLong(1))).toSet
    assert(rows.filter(_._1.nonEmpty).toSet == inner,
      "matched pairs must equal the batch inner join on cutoff purchases")
    // completeness: every cutoff purchase appears (matched or organic)
    val allP = p.select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._2).toSet == allP,
      "every retained purchase must emit at least one row")
  }

  test("q172 full outer join: null completion on BOTH sides") {
    import org.apache.spark.sql.functions._
    val rows = queries.Events.q172(spark, sf).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(rows.exists(r => r._1.nonEmpty && r._2.isEmpty),
      "unmatched views must null-complete")
    assert(rows.exists(r => r._1.isEmpty && r._2.nonEmpty),
      "unmatched purchases must null-complete")
    assert(rows.forall(r => r._1.nonEmpty || r._2.nonEmpty))
    // the view-side rows must equal q157's left-outer result exactly
    val left = queries.Events.q157(spark, sf).collect()
      .map(r => (Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(rows.filter(_._1.nonEmpty).toSet == left,
      "view-side rows must equal the left-outer join")
    // unmatched-purchase rows: exactly the cutoff-bounded purchases with
    // no retained view in the preceding hour (batch recomputation)
    val maxNs = Tables.events(spark, sf).agg(max(col("ts"))).head.getLong(0)
    val cutoff = maxNs - 4L * 3600 * 1000000000L
    val ev = Tables.events(spark, sf)
    val v = ev.filter(col("event_type") === "view" && col("ts") <= cutoff)
      .select(col("user_id").as("u"), col("ts").as("vts"))
    val p = ev.filter(col("event_type") === "purchase" && col("ts") <= cutoff)
      .select(col("event_id").as("purchase_id"), col("user_id").as("u"),
        col("ts").as("pts"))
    val matched = p.join(v, "u")
      .filter(col("pts") >= col("vts") && col("pts") <= col("vts") + 3600L * 1000000000L)
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    val unmatchedWant = p.select("purchase_id").collect().map(_.getLong(0)).toSet
      .diff(matched)
    assert(rows.filter(_._1.isEmpty).flatMap(_._2).toSet == unmatchedWant,
      "null-purchase rows must equal the batch unmatched set under the cutoff")
  }

  test("mergeLatestInto: out-of-order batches cannot regress, replays are no-ops") {
    import spark.implicits._
    import graft.streaming.Rollup
    val table = TempDirs.fresh("graft_cdc_spec") + "/t"
    def partials(rows: (Long, Long, String, Long)*) =
      rows.toSeq.toDF("k", "ver", "payload", "n")
    def apply(id: Long, rows: (Long, Long, String, Long)*): Boolean =
      Rollup.mergeLatestInto(spark, partials(rows: _*), table,
        keys = Seq("k"), orderCols = Seq("ver"), sumCols = Seq("n"), batchId = id)
    def state(): Map[Long, (Long, String, Long)] =
      Rollup.readRollup(spark, table).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3))))
        .toMap
    // batch 0: two keys
    assert(apply(0, (1L, 10L, "a@10", 1L), (2L, 5L, "b@5", 1L)))
    assert(state() == Map(1L -> ((10L, "a@10", 1L)), 2L -> ((5L, "b@5", 1L))))
    // batch 1 arrives OUT OF ORDER: key 1's update is OLDER (ver 7 < 10)
    // — it must not regress the payload, but its counter still counts;
    // key 2 moves forward; key 3 is new
    assert(apply(1, (1L, 7L, "a@7-late", 1L), (2L, 9L, "b@9", 1L),
      (3L, 1L, "c@1", 1L)))
    assert(state() == Map(1L -> ((10L, "a@10", 2L)), 2L -> ((9L, "b@9", 2L)),
      3L -> ((1L, "c@1", 1L))),
      "older update regressed the latest payload or miscounted")
    // replay of batch 1 (checkpoint-recovery shape): merge must refuse
    assert(!apply(1, (1L, 7L, "a@7-late", 1L)))
    assert(state()(1L) == ((10L, "a@10", 2L)), "replay double-counted")
    // batching-independence: one big batch equals the two-batch state
    val table2 = TempDirs.fresh("graft_cdc_spec2") + "/t"
    Rollup.mergeLatestInto(spark,
      partials((1L, 10L, "a@10", 1L), (2L, 5L, "b@5", 1L),
        (1L, 7L, "a@7-late", 1L), (2L, 9L, "b@9", 1L), (3L, 1L, "c@1", 1L)),
      table2, Seq("k"), Seq("ver"), Seq("n"), batchId = 0)
    // NOTE: a single batch holding two rows per key must pre-reduce the
    // same way the merge does — mergeLatestInto itself groups, so the
    // one-shot state equals the incremental one
    val one = Rollup.readRollup(spark, table2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3))))
      .toMap
    assert(one == state(), "batching changed the merged state")
  }

  test("q266 streaming PSI is row-identical to its batch twin q239") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val stream = rows("q266_stream_psi")
    val batch = rows("q239_psi_drift")
    assert(stream.nonEmpty)
    assert(stream == batch,
      s"monitor diverged from its batch twin: $stream vs $batch")
  }

  test("rollup retention keeps a time-travel ledger; pruned reads fail loudly") {
    import spark.implicits._
    val tp = java.nio.file.Files.createTempDirectory("graft_ttl").toString + "/t"
    def batch(k: Int) = Seq(("g", k.toLong)).toDF("key", "n")
    // retain 2 of 3: v_0 pruned, v_1/v_2 retained
    (0 to 2).foreach { k =>
      streaming.Rollup.mergeInto(spark, batch(k), tp, Seq("key"), k.toLong,
        retainVersions = 2)
    }
    assert(streaming.Rollup.versions(spark, tp) == Seq(1L, 2L))
    // snapshots are prefix states: v_1 = 0+1, v_2 = 0+1+2
    assert(streaming.Rollup.readVersion(spark, tp, 1L)
      .head.getLong(1) == 1L)
    assert(streaming.Rollup.readVersion(spark, tp, 2L)
      .head.getLong(1) == 3L)
    val ex = intercept[IllegalArgumentException] {
      streaming.Rollup.readVersion(spark, tp, 0L)
    }
    assert(ex.getMessage.contains("pruned"))
    // default retention unchanged: a fourth merge without the flag prunes to 1
    streaming.Rollup.mergeInto(spark, batch(3), tp, Seq("key"), 3L)
    assert(streaming.Rollup.versions(spark, tp) == Seq(3L))
  }
}
