package graft

import org.scalatest.funsuite.AnyFunSuite

class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private val sf = "/root/testdata/sf0.001"

  test("approx_count_distinct lands within its rsd bound of the exact count") {
    // numeric error bound on the raw aggregates (q63's hashed output only
    // carries the within-bound flag, which must be uniformly true)
    import org.apache.spark.sql.functions._
    val raw = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
      .collect()
    assert(raw.nonEmpty)
    raw.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact <= 0.10,
        s"approx $approx vs exact $exact for ${r.getString(0)}")
    }
    val flags = queries.Analytics.q63(spark, sf).collect()
    assert(flags.nonEmpty && flags.forall(_.getBoolean(2)),
      "q63 within-bound flag must be true for every group")
  }

  test("count-min sketch never underestimates: every token, not just top-k") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokens
    val sf = "/root/testdata/sf0.001"
    val D = 4
    val W = 8192L
    def bucket(row: Int, tok: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(row.toString), lit("|"), tok)), 1, 14), 16, 10)
        .cast("long") % W
    val toks = Tables.documents(spark, sf)
      .select(explode(tokens(col("text"))).as("tok")).persist()
    val cms = toks
      .select(explode(array((0 until D).map(i =>
        struct(lit(i).as("r"), bucket(i, col("tok")).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
    val est = exact
      .select(col("tok"), col("exact_n"),
        explode(array((0 until D).map(i =>
          struct(lit(i).as("r"), bucket(i, col("tok")).as("b"))): _*)).as("rb"))
      .join(cms, col("rb.r") === cms("r") && col("rb.b") === cms("b"))
      .groupBy(col("tok"), col("exact_n"))
      .agg(min(col("c")).as("cms_est"))
    val under = est.filter(col("cms_est") < col("exact_n")).count()
    assert(under == 0, s"CMS underestimated $under tokens")
  }

  test("SQL-text entry point answers ad-hoc queries over registered views") {
    val df = queries.Analytics.q61(spark, sf)
    assert(df.count() > 0)
    // and arbitrary follow-up SQL works against the same catalog state
    val n = spark.sql("SELECT COUNT(*) AS n FROM lineitem").head().getLong(0)
    assert(n > 0)
  }

  test("crypto trend series: 4 coins x 72 hours, deltas sum to net move") {
    val rows = queries.Analytics.q62(spark, sf).collect()
    assert(rows.length == 288)
    val perCoin = rows.groupBy(_.getString(0))
    assert(perCoin.keySet == Set("bitcoin", "ethereum", "solana", "tether"))
    perCoin.foreach { case (_, rs) =>
      assert(rs.head.isNullAt(3), "first hour has no previous-hour delta")
      val deltas = rs.drop(1).map(_.getDouble(3)).sum
      val net = rs.last.getDouble(2) - rs.head.getDouble(2)
      assert(math.abs(deltas - net) < 1e-9)
    }
  }

  test("last-touch attribution matches a driver-side per-user replay") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q114_last_touch")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) / 1000, r.getLong(2), r.getString(3)))
    val expect = scala.collection.mutable.Map[String, (Long, Long)]()
      .withDefaultValue((0L, 0L))
    events.groupBy(_._1).values.foreach { evs =>
      var lastTouch: Option[(Long, String)] = None
      evs.sortBy(e => (e._2, e._3)).foreach { case (_, tsUs, _, typ) =>
        if (typ == "purchase") {
          val (touch, delay) = lastTouch match {
            case Some((tus, tt)) => (tt, tsUs - tus)
            case None => ("none", 0L)
          }
          val (n, s0) = expect(touch)
          expect(touch) = (n + 1, s0 + delay)
        }
        if (typ == "view" || typ == "click") lastTouch = Some((tsUs, typ))
      }
    }
    assert(got.keySet == expect.keySet)
    got.foreach { case (touch, (n, sumDelay)) =>
      val (en, es) = expect(touch)
      assert(n == en, s"$touch: $n purchases, expected $en")
      if (touch != "none")
        assert(sumDelay.contains(es), s"$touch: delay ${sumDelay} != $es")
      else assert(sumDelay.isEmpty, "'none' bucket must have null delay sum")
    }
  }

  test("PageRank matches the closed form on a star graph") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // undirected star: hub 0 — leaves 1..4. Closed form on the 1e-9 grid:
    //   hub:  base + 4·round(0.85·leaf9/1)   leaf: base + round(0.85·hub9/4)
    // starting from pr9 = round(1e9/5) = 2e8 for all.
    val pairs = (1L to 4L).map(l => (0L, l))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = operators.Graph.pageRank(edges, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def rd(x: Double): Long = math.round(x)
    val base = rd(0.15 * 1e9 / 5)
    var hub = 200000000L; var leaf = 200000000L
    (0 until 2).foreach { _ =>
      val h2 = base + 4L * rd(0.85 * leaf / 1.0)
      val l2 = base + rd(0.85 * hub / 4.0)
      hub = h2; leaf = l2
    }
    assert(got(0L) == ((4L, hub)), s"hub ${got(0L)} != (4, $hub)")
    (1L to 4L).foreach(l => assert(got(l) == ((1L, leaf)), s"leaf $l: ${got(l)}"))
    // hub outranks leaves; total mass stays within grid loss of 1e9
    assert(hub > leaf)
    val mass = got.values.map(_._2).sum
    assert(math.abs(mass - 1000000000L) < 100L, s"mass $mass drifted")
  }

  test("PageRank redistributes dangling mass on a graph with sinks") {
    import spark.implicits._
    // directed: 1→2, 1→3, 2→1. Node 3 is a SINK (no out-edges) and node 1
    // has in-edges only from 2 — the graph the old no-dangling contract
    // silently mis-ranked. Hand-roll the grid recurrence: each round
    //   d9 = pr9(3);  base = round(0.15e9/3);  dshare = round(0.85·d9/3)
    //   pr9'(1) = base + dshare + round(0.85·pr9(2)/1)
    //   pr9'(2) = base + dshare + round(0.85·pr9(1)/2)
    //   pr9'(3) = base + dshare + round(0.85·pr9(1)/2)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L)).toDF("src", "dst")
    val got = operators.Graph.pageRank(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def rd(x: Double): Long = math.round(x)
    val base = rd(0.15 * 1e9 / 3)
    var p1 = rd(1e9 / 3); var p2 = p1; var p3 = p1
    (0 until 3).foreach { _ =>
      val dshare = rd(0.85 * p3 / 3)
      val n1 = base + dshare + rd(0.85 * p2 / 1.0)
      val n2 = base + dshare + rd(0.85 * p1 / 2.0)
      val n3 = base + dshare + rd(0.85 * p1 / 2.0)
      p1 = n1; p2 = n2; p3 = n3
    }
    assert(got(1L) == ((2L, p1)), s"node1 ${got(1L)} != (2, $p1)")
    assert(got(2L) == ((1L, p2)), s"node2 ${got(2L)} != (1, $p2)")
    assert(got(3L) == ((0L, p3)), s"sink  ${got(3L)} != (0, $p3)")
    // dangling redistribution conserves mass (within grid loss)
    val mass = got.values.map(_._2).sum
    assert(math.abs(mass - 1000000000L) < 100L, s"mass $mass leaked")
  }

  test("BFS convergence status: early exit on exhausted frontier") {
    import spark.implicits._
    // path 0-1-2-3: full closure takes 3 hops; a budget of 10 must stop
    // at round 4 (the first empty frontier) and report converged
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val full = operators.Graph.bfsHopsWithStatus(
      edges, Seq(0L).toDF("node"), maxHops = 10)
    assert(full.converged, "closure within budget must report converged")
    assert(full.roundsRun == 4, s"expected early exit at round 4, " +
      s"ran ${full.roundsRun}")
    val hops = full.result.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hops == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
    // a budget that cuts the walk short must say so
    val cut = operators.Graph.bfsHopsWithStatus(
      edges, Seq(0L).toDF("node"), maxHops = 2)
    assert(!cut.converged, "non-empty last frontier must report unconverged")
    assert(cut.roundsRun == 2)
  }

  test("SSSP convergence status: fixpoint detection ends the loop") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    // distances stabilize after round 3; a budget of 10 must detect the
    // round-4 no-change and stop
    val full = operators.Graph.ssspWithStatus(
      edges, Seq(1L).toDF("node"), rounds = 10)
    assert(full.converged)
    assert(full.roundsRun == 4, s"expected fixpoint at round 4, " +
      s"ran ${full.roundsRun}")
    val d = full.result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 3L))
    // a 2-round budget leaves node 4 on the expensive path → unconverged
    val cut = operators.Graph.ssspWithStatus(
      edges, Seq(1L).toDF("node"), rounds = 2)
    assert(!cut.converged)
  }

  test("k-core peeling matches hand peeling and reports convergence") {
    import spark.implicits._
    // triangle {1,2,3} + chain 3-4-5: peeling k=2 strips 5 then 4, the
    // triangle survives with in-core degree 2 everywhere
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val fx = operators.Graph.kCore(pairs, k = 2, maxRounds = 8)
    assert(fx.converged)
    // round 1 drops 5, round 2 drops 4, round 3 confirms the fixpoint
    assert(fx.roundsRun == 3, s"ran ${fx.roundsRun}")
    val core = fx.result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $core")
    // a budget too small to finish must report unconverged
    val cut = operators.Graph.kCore(pairs, k = 2, maxRounds = 1)
    assert(!cut.converged)
    // k above the max degree peels everything — empty core, converged
    val empty = operators.Graph.kCore(pairs, k = 4, maxRounds = 8)
    assert(empty.converged && empty.result.count() == 0)
  }

  test("connected components assign min-id labels per component") {
    import spark.implicits._
    // components {1,2,3}, {7,9}, {10,11,12} (chain)
    val pairs = Seq((2L, 3L), (1L, 2L), (9L, 7L), (10L, 11L), (11L, 12L))
      .toDF("a", "b")
    val got = operators.Graph.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), s"got $got")
  }

  test("q174 plans its rank cut as WindowGroupLimit above the bounded slice") {
    // the pre-limit cut must plan as WindowGroupLimit (each map task keeps
    // only its top-100 per priority before the shuffle) — the q132 rule;
    // without it the rank metrics would order whole priority groups
    val phys = queries.Extended.q174(spark, sf)
      .queryExecution.executedPlan.toString
    assert(phys.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$phys")
  }

  test("skyline2D equals the brute-force dominance filter on random points") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 5).foreach { trial =>
      // duplicates on purpose: tied (x, y) points must all survive
      val pts = Seq.fill(300)((rnd.nextInt(40) / 2.0, rnd.nextInt(30))) ++
        Seq((1.0, 5), (1.0, 5))
      val got = operators.Skyline.skyline2D(
          pts.toDF("price", "size"), $"price", $"size", slices = 7)
        .collect().map(r => (r.getDouble(0), r.getInt(1), r.getLong(2))).toSet
      val grouped = pts.groupBy(identity).map { case ((x, y), g) => (x, y, g.size.toLong) }
      val want = grouped.filter { case (x, y, _) =>
        !grouped.exists { case (qx, qy, _) =>
          qx <= x && qy >= y && (qx < x || qy > y) }
      }.toSet
      assert(got == want, s"trial $trial: got=${got.toSeq.sorted} want=${want.toSeq.sorted}")
    }
  }

  test("BFS hop distances match the hand graph and stop at maxHops") {
    import spark.implicits._
    // path 1-2-3-4-5 plus isolated pair 8-9: from seed {1}, hops are the
    // path positions; 5 is beyond maxHops=3; 8/9 unreachable
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = operators.Graph.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3), s"got $got")
  }

  test("triangle counts are exact on K4-plus-pendant") {
    import spark.implicits._
    // K4 on {1,2,3,4} has 4 triangles — every vertex sits in C(3,2) = 3;
    // pendant 5-1 and isolated edge 8-9 contribute none
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (8L, 9L)).toDF("a", "b")
    val got = operators.Graph.triangleCounts(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
    // total credit = 3 × triangle count
    assert(got.values.sum == 12L)
  }

  test("event transition probabilities are a proper distribution per source") {
    val rows = queries.Events.q146(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, g) =>
      val pSum = g.map(_._4).sum
      assert(math.abs(pSum - 1.0) < 1e-9, s"$src: probabilities sum $pSum")
      assert(g.forall(t => t._4 > 0 && t._4 <= 1.0))
    }
    // bigram conservation: transitions out of all sources = events - one
    // terminal event per user
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_._3).sum == nEvents - nUsers)
  }

  test("SSSP relaxation finds the cheaper two-edge detour within its bound") {
    import spark.implicits._
    // 1→2 costs 10 direct, but 1→3→2 costs 2; node 4 is 3 edges out, so
    // rounds=2 must NOT reach it through the detour path's full length
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    val r2 = operators.Graph.sssp(edges, Seq(1L).toDF("node"), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 11L), s"got $r2")
    // one more round relaxes 4 through the detour: 1→3→2→4 = 3
    val r3 = operators.Graph.sssp(edges, Seq(1L).toDF("node"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3(4L) == 3L, s"round-3 distance to 4 was ${r3(4L)}")
  }

  test("user-growth curve ends at the distinct-user count and never dips") {
    val rows = queries.Events.q149(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.last._3 == users, s"final cum ${rows.last._3} != $users users")
    assert(rows.map(_._2).sum == users)
    // cumulative curve is strictly the running sum and monotone
    rows.foldLeft(0L) { case (acc, (h, nu, cum)) =>
      assert(cum == acc + nu, s"$h: cum $cum != ${acc + nu}"); cum
    }
  }

  test("association-rule lift isolates the planted always-together pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parts 100/101 co-occur in exactly their 2 shared orders and nowhere
    // else → lift = 2·N/(2·2); part 200 appears in every order (lift-diluted)
    val rows = Seq(
      (1L, 100L), (1L, 101L), (1L, 200L),
      (2L, 100L), (2L, 101L), (2L, 200L),
      (3L, 300L), (3L, 200L),
      (4L, 300L), (4L, 200L))
    val dir = java.nio.file.Files.createTempDirectory("graft_mb").toString
    rows.toDF("l_orderkey", "l_partkey")
      .withColumn("l_suppkey", lit(1L)).withColumn("l_linenumber", lit(1))
      .withColumn("l_quantity", lit(1.0)).withColumn("l_extendedprice", lit(1.0))
      .withColumn("l_discount", lit(0.0)).withColumn("l_tax", lit(0.0))
      .withColumn("l_returnflag", lit("N")).withColumn("l_linestatus", lit("O"))
      .withColumn("l_shipdate", to_date(lit("1996-01-01")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = queries.Analytics.q142(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(5), r.getDouble(6)))).toMap
    // N=4 orders. (100,101): supp 2, sa=sb=2 → conf 1.0, lift 2·4/4 = 2.0
    assert(got((100L, 101L)) == ((2L, 1.0, 2.0)), s"${got.toSeq}")
    // (300,200): supp 2, sa 2, sb 4 → conf 1.0, lift 2·4/8 = 1.0
    assert(got((200L, 300L))._3 == 1.0)
    // the planted exclusive pair has the strictly highest lift
    assert(got.values.map(_._3).max == 2.0)
  }

  test("rolling anomaly flags exactly the planted spike against its trailing window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 30 flat values then one 50x spike then 10 more flat values, all
    // inside one 24h window. Only the spike clears 3 sigma; flat rows
    // before it have zero deviation and flat rows after it sit well
    // inside the spike-inflated variance (driver-checked closed form).
    val base = 1704412800L // 2024-01-05T00:00:00Z
    val rows = (0 until 30).map(i => (i.toLong, base + i * 60L, 10.0)) ++
      Seq((30L, base + 1800L, 500.0)) ++
      (31 until 41).map(i => (i.toLong, base + i * 60L, 10.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_anom").toString
    rows.toDF("event_id", "es", "value")
      .select($"event_id", timestamp_seconds($"es").as("ts"),
        lit(7L).as("user_id"), lit("click").as("event_type"), $"value",
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.Events.q150(spark, dir).collect()
      .map(r => (r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(got.toList == List((30L, 500.0, 31L)), s"${got.toList}")
  }

  test("chi-square contingency matches the closed form on a hand-built 2x2") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // arm = user_id % 2; conv = purchase with value > 150
    // users: 0,2 arm0-conv; 4 arm0-nonconv; 1 arm1-conv; 3,5 arm1-nonconv
    // cells a=2 b=1 c=1 d=2, N=6, ad-bc=3 -> chi2 = 6*9/(3*3*3*3) = 2/3
    val rows = Seq(
      (0L, 200.0), (2L, 160.0), (4L, 100.0),
      (1L, 151.0), (3L, 150.0), (5L, 10.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_chi").toString
    rows.toDF("user_id", "value")
      .select(($"user_id" + 1).cast("long").as("event_id"),
        timestamp_seconds(lit(1704412800L) + $"user_id").as("ts"),
        $"user_id", lit("purchase").as("event_type"), $"value",
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = queries.Analytics.q153(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 1L, 1L, 2L)))
    assert(r.getDouble(4) == 2.0 / 3 && r.getDouble(5) == 1.0 / 3)
    assert(r.getDouble(6) == 6.0 * 9 / 81, s"chi2 ${r.getDouble(6)}")
  }

  test("OLS trend recovers an exact planted line (slope per day, intercept)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // v = 1.00 + 0.01 * x over x = 0,100,200s since the 2024-01-01 anchor
    // -> slope 0.01/s = 864 value-units/day, intercept 1.0 — both exact
    // on the 1e-9 grid the query snaps to.
    val rows = Seq((1L, 0L, 1.0), (2L, 100L, 2.0), (3L, 200L, 3.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_ols").toString
    rows.toDF("event_id", "x", "value")
      .select($"event_id", timestamp_seconds(lit(1704067200L) + $"x").as("ts"),
        lit(1L).as("user_id"), lit("view").as("event_type"), $"value",
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = queries.Analytics.q154(spark, dir).collect().head
    assert(r.getLong(1) == 3L)
    assert(r.getDouble(2) == 864.0, s"slope ${r.getDouble(2)}")
    assert(r.getDouble(3) == 1.0, s"intercept ${r.getDouble(3)}")
  }

  test("CUSUM change point lands on the planted level shift with its closed form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 20 events at 10.00 then 20 at 50.00 -> mu = 30; D_i = sum(v-mu) is
    // -20i through the first regime, so |D| peaks at the boundary:
    // argmax i=20 (event_id 20), |D_20| = 400.0 value units, exact.
    val rows = (1 to 40).map(i => (i.toLong, 1704412800L + i * 60L,
      if (i <= 20) 10.0 else 50.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum").toString
    rows.toDF("event_id", "es", "value")
      .select($"event_id", timestamp_seconds($"es").as("ts"),
        lit(1L).as("user_id"), lit("view").as("event_type"), $"value",
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = queries.Events.q156(spark, dir).collect().head
    assert(r.getLong(1) == 40L)
    assert(r.getLong(3) == 20L, s"change event ${r.getLong(3)}")
    assert(r.getDouble(4) == 400.0, s"max cum dev ${r.getDouble(4)}")
  }

  test("TWAP integrates the step function exactly, across hour and day boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val day = 86400L
    // type A, one day: [0,1800)@10 + [1800,7200)@30, last event open (drops)
    // -> hour 0 twap (10+30)/2 = 20, hour 1 twap 30
    val a = Seq((1L, 0L, 10.0, "A"), (2L, 1800L, 30.0, "A"),
      (3L, 7200L, 50.0, "A"))
    // type B: day-0 23:59:50 -> day-2 00:00:10 with day 1 EMPTY: the
    // next-event lookup must cross the empty slice via the slice-firsts
    // table; every covered hour holds 10.0
    val b = Seq((4L, day - 10L, 10.0, "B"), (5L, 2 * day + 10L, 99.0, "B"),
      (6L, 2 * day + 20L, 99.0, "B"))
    val base = 1704067200L
    val dir = java.nio.file.Files.createTempDirectory("graft_twap").toString
    (a ++ b).toDF("event_id", "off", "value", "event_type")
      .select($"event_id", timestamp_seconds(lit(base) + $"off").as("ts"),
        lit(1L).as("user_id"), $"event_type", $"value", lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.Events.q158(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getLong(3), r.getLong(4))))
    val m = got.toMap
    assert(m(("A", "2024-01-01 00:00:00")) == ((20.0, 3600L, 2L)), s"${got.toList}")
    assert(m(("A", "2024-01-01 01:00:00")) == ((30.0, 3600L, 1L)))
    val bHours = got.filter(_._1._1 == "B")
    assert(bHours.length == 26, s"B must cover 26 hours, got ${bHours.length}")
    // all carried hours hold 10.0; the final hour mixes 10s@10 + 10s@99
    assert(bHours.filter(_._1._2 != "2024-01-03 00:00:00")
      .forall(_._2._1 == 10.0), "carried value must be 10.0")
    assert(m(("B", "2024-01-03 00:00:00")) == ((54.5, 20L, 2L)))
    assert(m(("B", "2024-01-02 05:00:00"))._2 == 3600L, "empty day fully covered")
  }

  test("OHLC bars pick first/last by (ts, event_id) and VWAP is the exact ratio") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = 1704067200L
    val rows = Seq(
      (1L, 10L, 5.0, 2L), (2L, 20L, 9.0, 0L), (3L, 30L, 1.0, 1L),
      // same-ts tie in hour 2: open must be the LOWER event_id's value
      (4L, 7200L, 7.0, 1L), (5L, 7200L, 2.0, 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft_ohlc").toString
    rows.toDF("event_id", "off", "value", "k")
      .select($"event_id", timestamp_seconds(lit(base) + $"off").as("ts"),
        lit(1L).as("user_id"), lit("view").as("event_type"), $"value",
        concat(lit("{\"k\": "), $"k", lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.Events.q159(spark, dir).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    // hour 0: open 5 high 9 low 1 close 1, vwap (500*2+100*1)/3/100 grid-snapped
    assert(got("2024-01-01 00:00:00") ==
      ((3L, 5.0, 9.0, 1.0, 1.0, 3.666666667)), s"$got")
    // hour 2: tie on ts -> open from event_id 4, close from event_id 5
    assert(got("2024-01-01 02:00:00") == ((2L, 7.0, 7.0, 2.0, 2.0, 4.5)))
  }

  test("CUPED: perfectly correlated covariate equalizes the arms at theta = 2") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user u: one pre-period event value u, one post-period event 2u
    // -> theta = cov/var = 2 exactly; Y' = Y - 2(X - mean X) collapses to
    // 2*mean(X) = 9.0 for BOTH arms (arm means 10 vs 8 before adjustment)
    val pre = 1704067200L + 60L          // 2024-01-01, pre-period
    val post = 1704067200L + 20L * 86400 // 2024-01-21, post-period
    val rows = (1 to 8).flatMap { u =>
      Seq((u.toLong * 2, pre + u, u.toLong, u * 1.0),
        (u.toLong * 2 + 1, post + u, u.toLong, u * 2.0))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_cuped").toString
    rows.toDF("event_id", "es", "user_id", "value")
      .select($"event_id", timestamp_seconds($"es").as("ts"), $"user_id",
        lit("purchase").as("event_type"), $"value", lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.Analytics.q160(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(0L) == ((4L, 2.0, 10.0, 9.0)), s"$got")
    assert(got(1L) == ((4L, 2.0, 8.0, 9.0)), s"$got")
  }

  test("seasonal baseline predicts the planted hour-of-day pattern exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 train days with value = 10*(hod+1) at hours 0 and 1, holdout day
    // with the same pattern at hour 0 but +6 at hour 1:
    // pred == actual at hod 0 (err 0), abs_err == 6.0 at hod 1
    val base = 1704067200L
    val rows = for (day <- 0 to 3; hod <- 0 to 1) yield
      ((day * 2 + hod + 1).toLong, base + day * 86400L + hod * 3600L,
        10.0 * (hod + 1) + (if (day == 3 && hod == 1) 6.0 else 0.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_seas").toString
    rows.toDF("event_id", "es", "value")
      .select($"event_id", timestamp_seconds($"es").as("ts"),
        lit(1L).as("user_id"), lit("view").as("event_type"), $"value",
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.Events.q163(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(4),
        r.getDouble(5), r.getDouble(6)))).toMap
    assert(got(0L) == ((3L, 10.0, 10.0, 0.0)), s"$got")
    assert(got(1L) == ((3L, 20.0, 26.0, 6.0)), s"$got")
  }

  test("session paths cut at five steps and split on the 30-minute gap") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = 1704412800L
    // user 1: view>click session, then a 2h-later lone purchase session
    // user 2: seven events in one session -> path keeps the FIRST FIVE
    val rows = Seq(
      (1L, base, 1L, "view"), (2L, base + 600L, 1L, "click"),
      (3L, base + 8000L, 1L, "purchase")) ++
      (0 until 7).map(i => (10L + i, base + i * 60L, 2L,
        if (i % 2 == 0) "view" else "click"))
    val dir = java.nio.file.Files.createTempDirectory("graft_paths").toString
    rows.toDF("event_id", "es", "user_id", "event_type")
      .select($"event_id", timestamp_seconds($"es").as("ts"), $"user_id",
        $"event_type", lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.Events.q165(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("view>click" -> 1L, "purchase" -> 1L,
      "view>click>view>click>view" -> 1L), s"$got")
  }

  test("Wilson intervals bracket the rate and match a driver-side recomputation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (0L, 200.0), (2L, 160.0), (4L, 100.0),
      (1L, 151.0), (3L, 150.0), (5L, 10.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_wil").toString
    rows.toDF("user_id", "value")
      .select(($"user_id" + 1).cast("long").as("event_id"),
        timestamp_seconds(lit(1704412800L) + $"user_id").as("ts"),
        $"user_id", lit("purchase").as("event_type"), $"value",
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def wilson(c: Long, n: Long): (Double, Double) = {
      val z = 1.96; val nd = n.toDouble; val p = c.toDouble / nd
      val half = z * math.sqrt(p * (1.0 - p) / nd + z * z / (4.0 * nd * nd))
      val center = p + z * z / (2.0 * nd); val den = 1.0 + z * z / nd
      def g9(x: Double) = math.round(x * 1e9).toDouble / 1e9
      (g9((center - half) / den), g9((center + half) / den))
    }
    val got = queries.Analytics.q166(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // arm0: 2/3 conv, arm1: 1/3
    for ((arm, c) <- Seq((0L, 2L), (1L, 1L))) {
      val (n, cc, rate, lo, hi) = got(arm)
      assert((n, cc) == ((3L, c)))
      val (wlo, whi) = wilson(c, n)
      assert(lo == wlo && hi == whi, s"arm $arm: ($lo,$hi) vs ($wlo,$whi)")
      assert(lo < rate && rate < hi)
    }
  }

  test("incrementally maintained co-purchase pairs equal the full recompute") {
    // q195's gate checks the top-50 cut; this pins FULL-TABLE equality
    // after the mixed insert+delete merge sequence — every pair, every
    // support, no tombstones
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
    val base = TempDirs.fresh("ivm_spec")
    val tp = s"$base/pairs_table"
    val roll = graft.streaming.Rollup
    val cp = graft.operators.CoPurchase
    roll.mergeInto(spark, cp.pairPartials(li.filter(col("l_orderkey") % 97 =!= 0), 1),
      tp, Seq("pa", "pb"), 0L)
    roll.mergeInto(spark, cp.pairPartials(li.filter(col("l_orderkey") % 97 === 0), 1),
      tp, Seq("pa", "pb"), 1L)
    roll.mergeInto(spark, cp.pairPartials(li.filter(col("l_orderkey") % 89 === 1), -1),
      tp, Seq("pa", "pb"), 2L, dropEmptied = true)
    val maintained = roll.readRollup(spark, tp)
      .select(col("pa"), col("pb"), col("supp")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val recomputed = cp.pairPartials(li.filter(col("l_orderkey") % 89 =!= 1), 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(maintained.nonEmpty && maintained == recomputed)
    // premise: the delete batch actually removed pairs and reduced supports
    val preDelete = cp.pairPartials(li, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(preDelete != recomputed, "delete batch must change the table")
  }

  test("label propagation: closed-form communities and tie-breaks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two triangles {1,2,3} and {10,11,12} joined by one weight-1 bridge
    // 3—10; triangle edges weigh 5, so each triangle converges to its
    // min label and the bridge never flips anyone (5+5 > 1 every round)
    val und = Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 5L),
      (10L, 11L, 5L), (11L, 12L, 5L), (10L, 12L, 5L), (3L, 10L, 1L))
    val edges = und.toDF("a", "b", "w")
      .select($"a".as("src"), $"b".as("dst"), $"w")
      .unionByName(und.toDF("a", "b", "w")
        .select($"b".as("src"), $"a".as("dst"), $"w"))
    val got = operators.Graph.labelPropagation(edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // pure tie: an isolated 2-cycle a—b with equal weight adopts the
    // smaller label on BOTH sides after an even number of rounds
    val duo = Seq((100L, 101L, 2L))
    val duoEdges = duo.toDF("a", "b", "w")
      .select($"a".as("src"), $"b".as("dst"), $"w")
      .unionByName(duo.toDF("a", "b", "w")
        .select($"b".as("src"), $"a".as("dst"), $"w"))
    val duoGot = operators.Graph.labelPropagation(duoEdges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one round: each node adopts its only neighbor's label
    assert(duoGot == Map(100L -> 101L, 101L -> 100L))
    val duoGot2 = operators.Graph.labelPropagation(duoEdges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two rounds: labels swap back — the documented 2-cycle phase pin
    assert(duoGot2 == Map(100L -> 100L, 101L -> 101L))
  }

  test("personalized PageRank: closed-form star, all restart mass to the seed") {
    import spark.implicits._
    // bidirected star 1—2, 1—3; seed {1}; one round by hand:
    //   node1 = teleport 0.15e9; node2 = node3 = round(0.85e9 / 2)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = operators.Graph.personalizedPageRank(edges, seeds, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 150000000L, 2L -> 425000000L, 3L -> 425000000L))
    intercept[IllegalArgumentException] {
      operators.Graph.personalizedPageRank(edges, Seq(99L).toDF("node"), 1)
        .collect()
    }
  }

  test("HITS: closed-form integer scores after one round") {
    import spark.implicits._
    // 1→3, 2→3, 3→4: a1 = in-hub sums (3↦2, 4↦1), h1 = out-auth sums
    // (1↦2, 2↦2, 3↦1), computed from the NEW authorities
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = operators.Graph.hits(edges, iters = 1)
      .selectExpr("node", "cast(auth as long) a", "cast(hub as long) h")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((0L, 2L)), 2L -> ((0L, 2L)),
      3L -> ((2L, 1L)), 4L -> ((1L, 0L))))
  }

  test("q238 calibration bins partition users and keep the ppm grid consistent") {
    val got = SparkEntry.queries("q238_calibration_bins")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(got.map(_._2).sum == nUsers, "bins must partition the user set")
    got.foreach { case (bin, n, conf, acc, gap) =>
      assert(bin >= 0 && bin <= 9 && n > 0)
      assert(conf >= 0 && conf <= 1000000 && acc >= 0 && acc <= 1000000)
      assert(gap == math.abs(conf - acc))
      // mean confidence lies inside (or at the clamp of) its own bin
      assert(conf / 100000 == bin || (bin == 9 && conf / 100000 >= 9),
        s"bin $bin mean conf $conf outside its bucket")
    }
  }

  test("q239 PSI equals a driver-side recomputation and is non-negative") {
    val got = SparkEntry.queries("q239_psi_drift")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val rows = Tables.events(spark, sf).selectExpr(
        "(ts div 1000000000) div 86400 as day", "event_type",
        "cast(cast(value as decimal(18,2)) * 100 as long) as vc")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val d0 = rows.map(_._1).min
    val d1 = rows.map(_._1).max
    val split = math.max((d0 + d1 + 1) / 2, d0 + 1)
    val maxvc = rows.filter(_._1 < split).map(_._3).max
    val exp = rows.map(_._2).distinct.sorted.map { t =>
      val cr = Array.fill(10)(0L)
      val cc = Array.fill(10)(0L)
      rows.filter(_._2 == t).foreach { case (day, _, vc) =>
        val bin = math.min(vc * 10 / (maxvc + 1), 9L).toInt
        if (day < split) cr(bin) += 1 else cc(bin) += 1
      }
      val nr = cr.sum
      val nc = cc.sum
      val e9 = (0 until 10).map { b =>
        val pc = (cc(b) + 1) * 1.0 / (nc + 10)
        val pr = (cr(b) + 1) * 1.0 / (nr + 10)
        math.round((pc - pr) * math.log(pc / pr) * 1e9)
      }.sum
      (t, nr, nc, e9.toDouble / 1e9)
    }
    assert(got.length == exp.length)
    got.zip(exp).foreach { case ((gt, gr, gc, gp), (et, er, ec, ep)) =>
      assert(gt == et && gr == er && gc == ec, s"counts diverge for $gt")
      // each term is (x−y)·ln(x/y) ≥ 0, so PSI is non-negative by identity
      assert(gp >= 0.0, s"negative PSI for $gt")
      assert(math.abs(gp - ep) <= 2e-9, s"PSI diverges for $gt: $gp vs $ep")
    }
  }

  test("q241 UCB1 equals a driver-side recomputation on the e9 grid") {
    val got = SparkEntry.queries("q241_ucb1_arms")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val rows = Tables.events(spark, sf).selectExpr("event_type",
        "cast(cast(value as decimal(18,2)) * 100 as long) as vc")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val arms = rows.groupBy(_._1).map { case (t, g) =>
      (t, g.length.toLong, g.map(_._2).sum) }.toSeq.sortBy(_._1)
    val bigN = arms.map(_._2).sum
    val maxvc = rows.map(_._2).max
    assert(got.length == arms.length)
    got.zip(arms).foreach { case ((gt, gn, gs, gu), (et, en, es)) =>
      assert(gt == et && gn == en && gs == es, s"aggregates diverge for $gt")
      val eu = math.round((es * 1.0 / en / maxvc
        + math.sqrt(2.0 * math.log(bigN.toDouble) / en)) * 1e9) / 1e9
      assert(math.abs(gu - eu) <= 2e-9, s"UCB diverges for $gt: $gu vs $eu")
      // the optimism bonus alone bounds the score from below
      assert(gu >= math.sqrt(2.0 * math.log(bigN.toDouble) / en) - 2e-9)
    }
  }

  test("q245 HHI equals a driver-side recomputation and respects its bounds") {
    val got = SparkEntry.queries("q245_hhi_concentration")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val rows = Tables.events(spark, sf).select("event_type", "user_id")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    got.foreach { case (t, nUsers, nEvents, hhi, topShare) =>
      val cu = rows.filter(_._1 == t).groupBy(_._2).map(_._2.length.toLong).toSeq
      assert(cu.size.toLong == nUsers && cu.sum == nEvents)
      val expHhi = (cu.map(c => BigInt(c) * c).sum * 1000000 /
        (BigInt(nEvents) * nEvents)).toLong
      val expTop = cu.max * 1000000 / nEvents
      assert(hhi == expHhi && topShare == expTop, s"$t: $hhi/$expHhi $topShare/$expTop")
      // uniform floor and single-emitter ceiling (integer-division slack)
      assert(hhi >= 1000000 / nUsers - 1 && hhi <= 1000000)
      assert(topShare >= 1000000 / nUsers - 1 && topShare <= 1000000)
    }
  }

  test("q248 Kaplan-Meier equals a driver-side recomputation and is monotone") {
    val got = SparkEntry.queries("q248_kaplan_meier")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf).selectExpr("user_id", "ts", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val tmax = ev.map(_._2).max
    val perUser = ev.groupBy(_._1).values.toSeq.map { g =>
      val t0 = g.map(_._2).min
      val tp = g.filter(_._3 == "purchase").map(_._2).minOption
      ((tp.getOrElse(tmax) - t0) / 86400000000000L, tp.isDefined)
    }
    val nUsers = perUser.size.toLong
    assert(got.map(r => r._3 + r._4).sum == nUsers,
      "events + censorings must partition the cohort")
    var atRisk = nUsers
    var cumE9 = 0L
    var lastSurv = 1000001L
    got.foreach { case (day, nRisk, d, c, surv) =>
      val expD = perUser.count(u => u._1 == day && u._2).toLong
      val expC = perUser.count(u => u._1 == day && !u._2).toLong
      assert(nRisk == atRisk && d == expD && c == expC, s"day $day grid")
      cumE9 += math.round(math.log(
        math.max(1.0 - d * 1.0 / nRisk, 1e-12)) * 1e9)
      val expSurv = math.round(math.exp(cumE9.toDouble / 1e9) * 1e6)
      assert(surv == expSurv, s"day $day survival: $surv vs $expSurv")
      assert(surv <= lastSurv, "survival must be non-increasing")
      lastSurv = surv
      atRisk -= d + c
    }
    assert(atRisk == 0L, "the walk must exhaust the cohort")
  }

  test("q253 split gains equal a BigInt driver recomputation") {
    val got = SparkEntry.queries("q253_split_info_gain")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(_._1).sorted.toSeq == Seq("click", "error", "signup", "view"))
    val ev = Tables.events(spark, sf).select("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val perUser = ev.groupBy(_._1).values.toSeq.map { g =>
      val ts = g.map(_._2).toSet
      (ts.contains("purchase"), ts)
    }
    def gini(n: Long, pos: Long): Long =
      if (n == 0) 0L
      else ((BigInt(n) * n - BigInt(pos) * pos - BigInt(n - pos) * (n - pos))
        * 1000000 / (BigInt(n) * n)).toLong
    val n = perUser.size.toLong
    val pos = perUser.count(_._1).toLong
    got.foreach { case (f, nWith, nWithout, parentPpm, gainPpm) =>
      val withF = perUser.filter(_._2.contains(f))
      val withoutF = perUser.filterNot(_._2.contains(f))
      assert(nWith == withF.size.toLong && nWithout == withoutF.size.toLong)
      assert(nWith + nWithout == n, "split must partition the cohort")
      assert(parentPpm == gini(n, pos))
      val wsum = BigInt(nWith) * gini(nWith, withF.count(_._1)) +
        BigInt(nWithout) * gini(nWithout, withoutF.count(_._1))
      assert(gainPpm == parentPpm - (wsum / n).toLong, s"$f gain")
    }
  }

  test("q254 WoE/IV equals a driver-side recomputation on the e9 grid") {
    val got = SparkEntry.queries("q254_woe_iv")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.length == 10, "dense 10-bin grid required")
    val ev = Tables.events(spark, sf).selectExpr(
        "cast(cast(value as decimal(18,2)) * 100 as long) as vc",
        "event_type = 'purchase' as good")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val maxvc = ev.map(_._1).max
    val g = Array.fill(10)(0L)
    val b = Array.fill(10)(0L)
    ev.foreach { case (vc, good) =>
      val bin = math.min(vc * 10 / (maxvc + 1), 9L).toInt
      if (good) g(bin) += 1 else b(bin) += 1
    }
    val gt = g.sum
    val bt = b.sum
    var ivTotE9 = 0L
    val exp = (0 until 10).map { bin =>
      val pG = (g(bin) + 1) * 1.0 / (gt + 10)
      val pB = (b(bin) + 1) * 1.0 / (bt + 10)
      val woeE9 = math.round(math.log(pG / pB) * 1e9)
      val ivE9 = math.round((pG - pB) * math.log(pG / pB) * 1e9)
      ivTotE9 += ivE9
      (bin.toLong, g(bin), b(bin), woeE9, ivE9)
    }
    got.zip(exp).foreach { case ((bin, ng, nb, woe, iv, ivTot), (eb, eg, enb, ew, ei)) =>
      assert(bin == eb && ng == eg && nb == enb, s"bin $bin counts")
      assert(math.abs(woe - ew / 1e9) <= 2e-9 && math.abs(iv - ei / 1e9) <= 2e-9)
      assert(math.abs(ivTot - ivTotE9 / 1e9) <= 2e-9, "IV total must be the term sum")
    }
  }

  test("q255 gains table partitions users and accumulates to full capture") {
    val got = SparkEntry.queries("q255_gains_table")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == 10 && got.map(_._1).toSeq == (1L to 10L))
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(got.map(_._2).sum == nUsers, "deciles must partition the user set")
    val gAll = got.map(_._3).sum
    var cum = 0L
    var lastGain = -1L
    got.foreach { case (_, nU, nPos, cumGain, lift) =>
      cum += nPos
      assert(cumGain == BigInt(cum) * 1000000 / gAll, "cumulative gain grid")
      assert(cumGain >= lastGain, "gains must be non-decreasing")
      lastGain = cumGain
      assert(lift == (BigInt(nPos) * nUsers * 1000000 /
        (BigInt(nU) * gAll)).toLong, "decile lift grid")
    }
    assert(lastGain == 1000000L, "last decile must capture everyone")
  }

  test("q260 conformal coverage equals a driver recomputation and sits near nominal") {
    val got = SparkEntry.queries("q260_conformal_coverage")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(got.nonEmpty)
    val rows = Tables.events(spark, sf).selectExpr(
        "(ts div 1000000000) div 86400 as day", "event_type",
        "cast(cast(value as decimal(18,2)) * 100 as long) as vc")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val d0 = rows.map(_._1).min
    val d1 = rows.map(_._1).max
    val split = math.max((d0 + d1 + 1) / 2, d0 + 1)
    def pct(vs: Seq[Long], p: Double): Double = {
      val s = vs.sorted.map(_.toDouble)
      val rank = p * (s.length - 1)
      val lo = rank.toInt
      if (lo + 1 >= s.length) s(lo)
      else s(lo) + (rank - lo) * (s(lo + 1) - s(lo))
    }
    got.foreach { case (t, nTrain, nTest, qhatD, covPpm) =>
      val train = rows.filter(r => r._2 == t && r._1 < split).map(_._3)
      val test = rows.filter(r => r._2 == t && r._1 >= split).map(_._3)
      assert(nTrain == train.length.toLong && nTest == test.length.toLong)
      val mean = train.sum / train.length
      val qhat = pct(train.toSeq.map(v => math.abs(v - mean)), 0.9)
      assert(math.abs(qhatD - BigDecimal(qhat / 100.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-6)
      val cov = test.count(v => math.abs(v - mean) <= qhat).toLong * 1000000L /
        test.length
      assert(covPpm == cov, s"$t coverage $covPpm vs $cov")
      // the split-conformal guarantee: coverage near nominal 90 %
      assert(covPpm >= 800000L && covPpm <= 1000000L,
        s"$t coverage $covPpm implausibly far from nominal")
    }
  }

  test("q262 LTV curve equals a driver recomputation with truncation adjustment") {
    val got = SparkEntry.queries("q262_ltv_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf).selectExpr("user_id",
        "(ts div 1000000000) div 86400 as day", "event_type",
        "cast(cast(value as decimal(18,2)) * 100 as long) as vc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val cohort = ev.groupBy(_._1).map { case (u, g) => u -> g.map(_._2).min }
    val maxDay = ev.map(_._2).max
    got.foreach { case (age, nCo, usersObs, ltv) =>
      val obsCohorts = cohort.values.toSeq.distinct.filter(_ <= maxDay - age)
      assert(nCo == obsCohorts.size.toLong, s"age $age observable cohorts")
      val users = cohort.count(_._2 <= maxDay - age).toLong
      assert(usersObs == users, s"age $age observable users")
      val rev = ev.filter(e => e._3 == "purchase"
        && cohort(e._1) <= maxDay - age
        && e._2 - cohort(e._1) <= age).map(_._4).sum
      assert(ltv == rev / users, s"age $age LTV")
    }
    // cumulative revenue per observable user should not decrease with age
    // on a window where the observable set only shrinks with age — not
    // guaranteed in general, so only the exact-grid equality is asserted.
  }

  test("q267 median-of-means equals a driver recomputation and buckets partition") {
    val got = SparkEntry.queries("q267_median_of_means")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf).selectExpr("event_type",
        "cast(cast(value as decimal(18,2)) * 100 as long) as vc",
        "cast(conv(substring(md5(concat('mom|', cast(event_id as string))), 1, 14)," +
          " 16, 10) as long) % 16 as bucket")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def median(vs: Seq[Double]): Double = {
      val s = vs.sorted
      val rank = 0.5 * (s.length - 1)
      val lo = rank.toInt
      if (lo + 1 >= s.length) s(lo)
      else s(lo) + (rank - lo) * (s(lo + 1) - s(lo))
    }
    got.foreach { case (t, nB, nE, mom, raw) =>
      val rows = ev.filter(_._1 == t)
      assert(nE == rows.length.toLong)
      val means = rows.groupBy(_._3).values.toSeq
        .map(g => g.map(_._2).sum.toDouble / g.length / 100.0)
      assert(nB == means.length.toLong)
      assert(math.abs(mom - BigDecimal(median(means))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-6, s"$t MoM")
      assert(math.abs(raw - BigDecimal(rows.map(_._2).sum.toDouble / rows.length / 100.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-6, s"$t raw")
    }
  }

  test("q269 isotonic fit equals the minimax recomputation and is monotone") {
    val got = SparkEntry.queries("q269_isotonic_calibration")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val bins = got.map(r => (r._1, r._2, r._3)) // (bin, n, pos) — oracle-gated
    val cumN = bins.scanLeft(0L)(_ + _._2).tail
    val cumP = bins.scanLeft(0L)(_ + _._3).tail
    def meanPpm(j: Int, k: Int): Long = {
      val n = cumN(k) - (if (j == 0) 0L else cumN(j - 1))
      val p = cumP(k) - (if (j == 0) 0L else cumP(j - 1))
      p * 1000000L / n
    }
    val exp = bins.indices.map { i =>
      (0 to i).map(j => (i until bins.length).map(k => meanPpm(j, k)).min).max
    }
    got.zip(exp).foreach { case ((bin, n, pos, raw, iso), e) =>
      assert(raw == pos * 1000000L / n, s"bin $bin raw rate")
      assert(iso == e, s"bin $bin isotonic value")
    }
    // the whole point: the fitted curve is non-decreasing
    assert(got.map(_._5).toSeq == got.map(_._5).sorted.toSeq)
  }

  test("q274 DiD equals a driver recomputation and cancels common shifts") {
    val got = SparkEntry.queries("q274_diff_in_diff")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf).selectExpr(
        "(ts div 1000000000) div 86400 as day", "event_type",
        "cast(cast(value as decimal(18,2)) * 100 as long) as vc",
        "cast(conv(substring(md5(concat('srm|', cast(user_id as string))), 1, 14)," +
          " 16, 10) as long) % 2 as arm")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val d0 = ev.map(_._1).min
    val d1 = ev.map(_._1).max
    val split = math.max((d0 + d1 + 1) / 2, d0 + 1)
    got.foreach { case (t, nT0, nT1, nC0, nC1, did) =>
      def cell(arm: Long, post: Boolean) = ev.filter(e => e._2 == t && e._4 == arm
        && (if (post) e._1 >= split else e._1 < split))
      val (t1, t0, c1, c0) = (cell(1, true), cell(1, false), cell(0, true), cell(0, false))
      assert(nT1 == t1.length.toLong && nT0 == t0.length.toLong
        && nC1 == c1.length.toLong && nC0 == c0.length.toLong, s"$t cells")
      def m(g: Array[(Long, String, Long, Long)]) =
        g.map(_._3).sum.toDouble / g.length
      val exp = math.round(((m(t1) - m(t0)) - (m(c1) - m(c0))) / 100.0 * 1e6) / 1e6
      assert(math.abs(did - exp) <= 2e-6, s"$t DiD $did vs $exp")
    }
  }

  test("q281 MAD median/mad/outliers match closed forms on a hand-built feed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // type "a": cents 100..900 step 100 -> med 500, devs sorted
    // {0,100,100,...,400}: mad = 200; threshold 3*1.4826*200 = 889.56
    // cents -> no outliers. type "b": ten 1.00 plus one 500.00 -> med 100,
    // mad 0, and only the 49900-dev point satisfies dev*10^4 > 0.
    val rows = (1 to 9).map(i => ("a", i * 1.0)) ++
      (0 until 10).map(_ => ("b", 1.0)) ++ Seq(("b", 500.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_mad").toString
    rows.zipWithIndex.map { case ((t, v), i) => (i.toLong, t, v) }
      .toDF("event_id", "event_type", "value")
      .select($"event_id", timestamp_seconds(lit(1704412800L) + $"event_id").as("ts"),
        lit(7L).as("user_id"), $"event_type", $"value", lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.Events.q281(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((9L, 500L, 200L, 0L)), s"$got")
    assert(got("b") == ((11L, 100L, 0L, 1L)), s"$got")
  }

  test("q282/q283 transition counts and entropy match closed forms") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1: A B A C  (A>B, B>A, A>C); user 2: A B (A>B)
    val rows = Seq((1L, 0L, "A"), (1L, 1L, "B"), (1L, 2L, "A"), (1L, 3L, "C"),
      (2L, 4L, "A"), (2L, 5L, "B"))
    val dir = java.nio.file.Files.createTempDirectory("graft_seq").toString
    rows.zipWithIndex.map { case ((u, t, e), i) => (i.toLong, u, t, e) }
      .toDF("event_id", "user_id", "t", "event_type")
      .select($"event_id", timestamp_seconds(lit(1704412800L) + $"t").as("ts"),
        $"user_id", $"event_type", lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val pats = queries.Events.q282(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(pats == Map("A>B" -> ((2L, 2L)), "B>A" -> ((1L, 1L)),
      "A>C" -> ((1L, 1L))), s"$pats")
    val h = queries.Events.q283(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val hMap = h.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // A: {B:2, C:1} -> H = -(2/3)ln(2/3) - (1/3)ln(1/3), per-term 1e-9 snap
    val expA = (math.rint(-(2.0 / 3) * math.log(2.0 / 3) * 1e9) +
      math.rint(-(1.0 / 3) * math.log(1.0 / 3) * 1e9)) / 1e9
    assert(hMap("A") == ((3L, 2L, expA)), s"$hMap")
    // only user 1's B has a successor (user 2's B is terminal)
    assert(hMap("B") == ((1L, 1L, 0.0)), s"$hMap")  // deterministic B>A
    assert(!hMap.contains("C"), "C has no successor")
  }

  test("q284 association-rule arithmetic matches a driver recomputation") {
    val got = queries.Analytics.q284(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8))))
    assert(got.nonEmpty)
    val op = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = op.map(_._1).distinct.length.toLong
    val item = op.groupBy(_._2).map { case (p, v) => p -> v.length.toLong }
    got.foreach { case ((pa, pb), (cab, ca, cb, supp, cab2, cba2, lift)) =>
      assert(ca == item(pa) && cb == item(pb), s"item counts $pa $pb")
      assert(supp == cab * 1000000L / n)
      assert(cab2 == cab * 1000000L / ca && cba2 == cab * 1000000L / cb)
      assert(lift == (BigInt(cab) * n * 1000000 / (BigInt(ca) * cb)).toLong,
        s"lift $pa $pb")
      assert(lift > 1000000L, "top-20 by lift should all beat independence")
    }
  }

  test("q285 harmonic centrality equals a driver multi-source BFS") {
    val got = queries.Analytics.q285(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val pr = operators.CoPurchase.pairs(spark, sf, minSupp = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set())
    pr.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val seeds = adj.keys.toSeq.sorted.take(10)
    // dist(seed -> node) within 4 hops via frontier expansion
    val h12 = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val nReach = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    seeds.foreach { s0 =>
      val dist = scala.collection.mutable.Map[Long, Int](s0 -> 0)
      var frontier = Set(s0)
      (1 to 4).foreach { k =>
        frontier = frontier.flatMap(adj).filterNot(dist.contains)
        frontier.foreach(n => dist(n) = k)
      }
      dist.foreach { case (node, dd) =>
        if (dd > 0) { h12(node) += 12L / dd; nReach(node) += 1 }
      }
    }
    val expTop = h12.toSeq.map { case (n, h) => (-h, n) }.sorted.take(20)
      .map { case (nh, n) => (n, nReach(n), -nh) }
    assert(got.map(r => (r._1, r._2, r._3)).toSeq == expTop, s"${got.toSeq}")
    got.foreach(r => assert(r._4 == r._3 / 12.0))
  }

  test("q287 A-ES keys recompute exactly from md5 uniforms in the driver") {
    val got = queries.Events.q287(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    def key9(eventId: Long, w: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ws|$eventId".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 14)
      val u = (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 7.2057594037927936e16
      math.rint(-math.log(u) / w * 1e9).toLong
    }
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.sameElements(1 to rows.length), "ranks 1..k")
      val keys = rows.sortBy(_._2).map(_._5)
      assert(keys.sameElements(keys.sorted), "keys ascend with rank")
    }
    got.foreach { case (_, _, eid, w, k9) =>
      assert(k9 == key9(eid, w), s"key mismatch for event $eid")
    }
  }

  test("q289 lake checksum: every day reconciles against the staged layout") {
    val got = queries.Events.q289(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.nonEmpty)
    got.foreach { case (day, nSrc, nLake, ok) =>
      assert(ok && nSrc == nLake, s"day $day failed reconciliation")
    }
    val total = Tables.events(spark, sf).count()
    assert(got.map(_._2).sum == total, "per-day counts must cover the table")
  }

  test("q291 Gini matches closed forms: 0 for equal, (n-1)/n-scaled for one-taker") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // type "eq": 4 users with equal revenue -> G = 0
    // type "one": 5 users, one holds everything -> G = (n-1)/n = 0.8
    val rows = (0 until 4).map(u => ("eq", u.toLong, 25.00)) ++
      (0 until 4).map(u => ("one", u.toLong, 0.00)) :+ (("one", 4L, 100.00))
    val dir = java.nio.file.Files.createTempDirectory("graft_gini").toString
    rows.zipWithIndex.map { case ((t, u, v), i) => (i.toLong, t, u, v) }
      .toDF("event_id", "event_type", "user_id", "value")
      .select($"event_id", timestamp_seconds(lit(1704412800L) + $"event_id").as("ts"),
        $"user_id", $"event_type", $"value", lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.Events.q291(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("eq") == ((4L, 0L)), s"$got")
    assert(got("one") == ((5L, 800000000L)), s"$got")
  }

  test("q298 forgotten cohort leaves zero residue; bystander totals intact") {
    import org.apache.spark.sql.functions._
    val r = queries.Events.q298(spark, sf).collect().head
    assert(r.getLong(1) == 0L, "forgotten users left residual rows")
    val direct = Tables.events(spark, sf)
      .filter(col("user_id") % 97 =!= 5)
      .agg(countDistinct(col("user_id")), count(lit(1)),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")))
      .head
    assert(r.getLong(0) == direct.getLong(0), "surviving user count drifted")
    assert(r.getLong(2) == direct.getLong(1), "surviving event count drifted")
    assert(r.getLong(3) == direct.getLong(2), "surviving cents total drifted")
    // premise: the cohort was non-empty, so the retraction actually ran
    assert(Tables.events(spark, sf).filter(col("user_id") % 97 === 5).count() > 0)
  }

  test("q299 conversion-delay percentiles: ordered, in-window, driver-exact") {
    val got = queries.Events.q299(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val v = ev.filter(_._2 == "view"); val p = ev.filter(_._2 == "purchase")
    val byUserP = p.groupBy(_._1)
    val deltas = v.flatMap { case (u, _, vts) =>
      byUserP.getOrElse(u, Array()).map(_._3)
        .filter(pts => pts >= vts && pts <= vts + 3600L * 1000000000L)
        .map(pts => (((vts / 1000000000L) / 86400L + 4) % 7, (pts - vts) / 1000000000L))
    }
    def typ1(xs: Seq[Long], num: Long, den: Long): Long = {
      val s0 = xs.sorted; s0(((num * s0.length + den - 1) / den - 1).toInt)
    }
    got.foreach { case (dow, (n, p50, p90, p99)) =>
      val xs = deltas.filter(_._1 == dow).map(_._2).toSeq
      assert(n == xs.length.toLong, s"dow $dow n")
      assert(p50 == typ1(xs, 1, 2) && p90 == typ1(xs, 9, 10) && p99 == typ1(xs, 99, 100),
        s"dow $dow percentiles")
      assert(p50 <= p90 && p90 <= p99 && p99 <= 3600L)
    }
  }

  test("q300 flags fixed-clock users as bots, jittered users as human") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = 1704412800L
    // user 1: 12 events exactly 60s apart (bot); user 2: 12 events with
    // growing jitter (human); user 3: only 5 events (below the active bar)
    val rows = (0 until 12).map(i => (1L, base + i * 60L)) ++
      (0 until 12).map(i => (2L, base + i * 60L + i * (i + 1) / 2)) ++
      (0 until 5).map(i => (3L, base + i * 60L))
    val dir = java.nio.file.Files.createTempDirectory("graft_bot").toString
    rows.zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) }
      .toDF("event_id", "user_id", "es")
      .select($"event_id", timestamp_seconds($"es").as("ts"), $"user_id",
        lit("click").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.Events.q300(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("click") == ((2L, 1L, 500000L)), s"$got")
  }

  test("q301 lag-0 cross-correlation equals a driver Pearson on the dense grids") {
    val got = queries.Events.q301(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(got.map(_._1) == List(-3L, -2L, -1L, 0L, 1L, 2L, 3L))
    val daily = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type").isin("view", "purchase"))
      .selectExpr("event_type", "(ts div 1000000000) div 86400 as day",
        "cast(cast(value as decimal(18,2)) * 100 as long) as c")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val d0 = daily.map(_._2).min; val d1 = daily.map(_._2).max
    def series(t: String) = (d0 to d1).map(day =>
      daily.filter(r => r._1 == t && r._2 == day).map(_._3).sum).toArray
    val xs = series("view"); val ys = series("purchase")
    val n = xs.length.toDouble
    def corr(a: Array[Long], b: Array[Long]): Double = {
      val sx = a.map(BigInt(_)).sum.toDouble; val sy = b.map(BigInt(_)).sum.toDouble
      val sxy = a.zip(b).map { case (p, q) => BigInt(p) * q }.sum.toDouble
      val sxx = a.map(v => BigInt(v) * v).sum.toDouble
      val syy = b.map(v => BigInt(v) * v).sum.toDouble
      math.rint((n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6) / 1e6
    }
    val lag0 = got.find(_._1 == 0L).get
    assert(lag0._2 == xs.length.toLong)
    assert(math.abs(lag0._3 - corr(xs, ys)) <= 2e-6, s"${lag0._3} vs ${corr(xs, ys)}")
  }

  test("q304 weekly movers are the true top-10 absolute WoW deltas") {
    val got = queries.Events.q304(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length <= 10 && got.nonEmpty)
    got.foreach { case (_, _, c, prev, delta) => assert(delta == c - prev) }
    // recompute all deltas in the driver; the query's rows must be the top
    val weekly = Tables.events(spark, sf)
      .selectExpr("event_type", "((ts div 1000000000) div 86400) div 7 as week",
        "cast(cast(value as decimal(18,2)) * 100 as long) as c")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.map(_._3).sum }
    val deltas = weekly.toSeq.flatMap { case ((t, w), c) =>
      weekly.get((t, w - 1)).map(prev => (t, w, c, prev, c - prev))
    }
    val expTop = deltas.sortBy(d => (-math.abs(d._5), d._2, d._1)).take(10)
    assert(got.toList == expTop.toList, s"${got.toList} vs ${expTop.toList}")
  }

  test("q305 strict funnel is monotone and never exceeds the loose q98 funnel") {
    val strict = queries.Events.q305(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(strict.length == 3)
    assert(strict(0)._2 >= strict(1)._2 && strict(1)._2 >= strict(2)._2,
      "deadline funnel must be monotone")
    assert(strict(0)._3 == 1000000L)
    val loose = queries.Events.q98(spark, sf).collect()
      .map(r => r.getString(0).take(1) -> r.getLong(1)).toMap
    assert(strict(1)._2 <= loose("2"), "7d deadline cannot beat ever-after")
    assert(strict(2)._2 <= loose("3"))
  }
}
