package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the extended relational pack (queries.Extended): semantics the
  * oracle can't see — built-in agreement for the closed-form statistics,
  * pivot/unpivot inversion, and sample-rate sanity. */
class ExtendedSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private val sf = "/root/testdata/sf0.001"

  test("closed-form corr/covar agree with Spark built-ins to 1e-6") {
    val manual = queries.Extended.q74(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val builtin = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(covar_samp(col("l_quantity"), col("l_extendedprice")).as("cs"),
        covar_pop(col("l_quantity"), col("l_extendedprice")).as("cp"),
        corr(col("l_quantity"), col("l_extendedprice")).as("r"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(manual.keySet == builtin.keySet)
    manual.foreach { case (k, (cs, cp, r)) =>
      val (bcs, bcp, br) = builtin(k)
      assert(math.abs(cs - bcs) / math.max(1.0, math.abs(bcs)) < 1e-6, s"covar_samp $k")
      assert(math.abs(cp - bcp) / math.max(1.0, math.abs(bcp)) < 1e-6, s"covar_pop $k")
      assert(math.abs(r - br) < 1e-6, s"corr $k: $r vs $br")
    }
  }

  test("pivot row counts re-sum to the plain groupBy counts") {
    val pivoted = queries.Extended.q72(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1) + r.getLong(3) + r.getLong(5))).toMap
    val plain = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pivoted == plain)
  }

  test("unpivot totals match direct column sums") {
    val melted = queries.Extended.q73(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val direct = Tables.part(spark, sf)
      .agg(sum(col("p_size").cast("decimal(18,2)")).cast("double"),
        sum(col("p_retailprice").cast("decimal(18,2)")).cast("double"))
      .head()
    assert(melted("p_size") == direct.getDouble(0))
    assert(melted("p_retailprice") == direct.getDouble(1))
  }

  test("hash sample keeps roughly 1/16 of rows and is reproducible") {
    val total = Tables.orders(spark, sf).count().toDouble
    val a = queries.Extended.q76(spark, sf).agg(sum(col("n_sampled"))).head().getLong(0)
    val b = queries.Extended.q76(spark, sf).agg(sum(col("n_sampled"))).head().getLong(0)
    assert(a == b, "deterministic sample must be reproducible")
    val rate = a / total
    assert(rate > 0.02 && rate < 0.15, s"sample rate $rate far from 1/16")
  }

  test("histogram buckets partition all orders exactly once") {
    val histo = queries.Extended.q75(spark, sf)
      .agg(sum(col("n_orders"))).head().getLong(0)
    assert(histo == Tables.orders(spark, sf).count())
  }

  test("bloom semi join equals the plain semi join and actually prunes") {
    val large = Tables.lineitem(spark, sf)
    val hot = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 400000.0)
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val bloomed = operators.BloomPrune.bloomSemiJoin(large, hot, "l_orderkey", 10000L)
    val plain = large.join(hot.select(col("l_orderkey")).distinct(),
      Seq("l_orderkey"), "left_semi")
    assert(bloomed.count() == plain.count())
    // the pre-filter itself must pass ~selectivity + fpp of rows, not all
    val pruned = operators.BloomPrune.bloomPruned(large, hot, "l_orderkey", 10000L)
    val kept = pruned.count().toDouble
    assert(kept < large.count() * 0.5,
      s"bloom kept $kept of ${large.count()} rows — not pruning")
    // the probe must be the codegen might_contain expression, not a ScalaUDF
    val phys = pruned.queryExecution.executedPlan.toString
    assert(phys.contains("might_contain"), s"no might_contain in plan:\n$phys")
    assert(!phys.contains("UDF"), s"ScalaUDF leaked into the bloom probe:\n$phys")
  }

  test("sorted-array top3 unpacks descending and top1 is the group max") {
    val rows = queries.Extended.q78(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t1, t2, t3) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(t1 >= t2 && t2 >= t3, s"${r.getString(0)}: not descending")
    }
    val maxes = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"))
      .agg(max(col("o_totalprice").cast("decimal(14,2)")).cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach(r => assert(r.getDouble(1) == maxes(r.getString(0))))
  }

  test("range-band join only emits lags within [0, 60] days") {
    val bands = queries.Extended.q77(spark, sf).collect().map(_.getLong(0))
    assert(bands.nonEmpty && bands.forall(b => b >= 0 && b <= 4))
  }

  test("equi-depth buckets partition all rows, stay ordered and balanced") {
    val rows = queries.Extended.q49(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_._2).sum == total, "buckets must partition every row")
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted)
    // value ranges must be disjoint and ordered: each bucket's min exceeds
    // the previous bucket's max (ties stay inside one bucket by design)
    rows.sliding(2).foreach {
      case Array((_, _, _, prevMax), (_, _, curMin, _)) =>
        assert(curMin > prevMax, s"bucket ranges overlap: $curMin <= $prevMax")
      case _ =>
    }
    // depth balance: the 2-decimal price grid has tiny tie groups relative
    // to N, so every bucket lands within 50% of the ideal depth
    val ideal = total / 10.0
    rows.foreach { case (b, n, _, _) =>
      assert(n > ideal * 0.5 && n < ideal * 1.5, s"bucket $b depth $n vs ideal $ideal")
    }
  }

  test("gap-fill spine is complete per type and fills carry the last sum") {
    val rows = queries.Events.q97(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    // parse the UTC-rendered hour strings with an explicit UTC offset —
    // java.sql.Timestamp.valueOf would use the JVM default zone and break
    // on DST-observing machines
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    def epochS(str: String): Long =
      java.time.LocalDateTime.parse(str, fmt).toEpochSecond(java.time.ZoneOffset.UTC)
    rows.groupBy(_._1).foreach { case (tpe, rs) =>
      val hours = rs.map(_._2).sorted
      // complete hourly spine: row count == span hours (no missing buckets)
      val span = (epochS(hours.last) - epochS(hours.head)) / 3600L + 1
      assert(rs.length.toLong == span, s"$tpe: ${rs.length} rows != $span hours")
      // gap rows have zero events but a non-null carried sum
      rs.filter(_._4 == 1).foreach { case (_, h, n, _, filled) =>
        assert(n == 0L, s"$tpe $h: gap row with events")
        assert(!filled.isNaN, s"$tpe $h: gap row lost the carried sum")
      }
    }
  }

  test("funnel counts never increase step over step") {
    val rows = queries.Events.q98(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.length == 3)
    assert(rows.head._3 == 1.0, "first step must convert at 1.0 from itself")
    rows.sliding(2).foreach {
      case Array((_, prev, _), (step, cur, _)) =>
        assert(cur <= prev, s"$step grew the cohort: $cur > $prev")
      case _ =>
    }
  }

  test("SCD2 intervals chain per user with exactly one current row") {
    val rows = queries.Events.q99(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getInt(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (uid, rs) =>
      assert(rs.count(_._5 == 1) == 1, s"user $uid: multiple current rows")
      val sorted = rs.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array((_, _, _, vt, _), (_, _, vf, _, _)) =>
          assert(vt == vf, s"user $uid: interval gap $vt -> $vf")
        case _ =>
      }
      assert(sorted.last._4 == "9999-12-31 00:00:00", s"user $uid: open interval must end at the sentinel")
      // change capture: consecutive intervals never repeat a state
      sorted.sliding(2).foreach {
        case Array((_, s1, _, _, _), (_, s2, _, _, _)) =>
          assert(s1 != s2, s"user $uid: consecutive intervals share state $s1")
        case _ =>
      }
    }
  }

  test("skew probe stats match a driver-side group-size recomputation") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q115_skew_probe")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7))).toMap
    def pct(sorted: Array[Long], p: Double): Double = {
      val pos = p * (sorted.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      val raw =
        if (lo + 1 < sorted.length) sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
        else sorted(lo).toDouble
      math.round(raw * 1e6) / 1e6
    }
    Seq("l_orderkey", "l_partkey", "l_suppkey").foreach { k =>
      val sizes = Tables.lineitem(spark, sf).groupBy(col(k)).count()
        .collect().map(_.getLong(1)).sorted
      val (nKeys, nRows, maxG, p50, p99, meanG, skew) = got(k)
      assert(nKeys == sizes.length && nRows == sizes.sum && maxG == sizes.max)
      assert(p50 == pct(sizes, 0.5), s"$k: p50 $p50 != ${pct(sizes, 0.5)}")
      assert(p99 == pct(sizes, 0.99), s"$k: p99 $p99 != ${pct(sizes, 0.99)}")
      assert(meanG == sizes.sum.toDouble / sizes.length)
      assert(skew == sizes.max / meanG && skew >= 1.0)
    }
  }

  test("table profile is consistent: no nulls, bounded distincts, ordered min/max") {
    val rows = SparkEntry.queries("q116_table_profile")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double])))
    assert(rows.length == 5)
    val nRows = rows.head._2
    rows.foreach { case (col0, n, nNulls, nDistinct, minV, maxV) =>
      assert(n == nRows, s"$col0: row count must be table-wide")
      assert(nNulls == 0, s"$col0: testdata has no nulls")
      assert(nDistinct >= 1 && nDistinct <= n, s"$col0: distinct out of range")
      (minV, maxV) match {
        case (Some(lo), Some(hi)) => assert(lo <= hi, s"$col0: min > max")
        case (None, None) => assert(col0 == "l_returnflag")
        case other => fail(s"$col0: half-null min/max $other")
      }
    }
    import org.apache.spark.sql.functions.countDistinct
    val ndQty = Tables.lineitem(spark, sf)
      .select(countDistinct(org.apache.spark.sql.functions.col("l_quantity")))
      .head().getLong(0)
    assert(rows.find(_._1 == "l_quantity").get._4 == ndQty)
  }

  test("incremental agg merge is bit-identical to the one-pass aggregate") {
    import org.apache.spark.sql.functions._
    val merged = SparkEntry.queries("q110_incremental_agg")(spark, sf).collect()
    val onePass = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .withColumn("avg_qty", col("sum_qty") / col("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
      .collect()
    assert(merged.length == onePass.length && merged.length > 0)
    merged.zip(onePass).foreach { case (m, o) =>
      assert(m.getString(0) == o.getString(0) && m.getString(1) == o.getString(1))
      assert(m.getLong(2) == o.getLong(2), s"count differs for ${m.getString(0)}/${m.getString(1)}")
      assert(m.getDouble(3) == o.getDouble(3), "decimal-partial merge must be exact")
      assert(m.getDouble(4) == o.getDouble(4), "avg from merged partials must be exact")
    }
  }

  test("q237 Benford digits equal a driver-side recomputation and shares sum to ~1e6") {
    val got = SparkEntry.queries("q237_benford_audit")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.map(_._1).forall(d => d >= 1 && d <= 9))
    // driver-side recomputation from exact cents
    val cents = Tables.orders(spark, sf).collect()
      .map(r => BigDecimal(r.getAs[Double]("o_totalprice"))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
      .map(_.toLongExact)
    val digits = cents.map(c => c.toString.head.asDigit.toLong)
    val want = digits.groupBy(identity).view.mapValues(_.length.toLong).toMap
    got.foreach { case (d, n, obs, exp, dev) =>
      assert(want(d) == n, s"digit $d count: got $n want ${want(d)}")
      assert(obs == n * 1000000L / cents.length)
      assert(dev == obs - exp)
    }
    assert(got.map(_._4).sum == 1000000L, "expected shares must sum to exactly 1e6")
  }

  test("q242 LOO encoding excludes the row's own target") {
    val got = SparkEntry.queries("q242_loo_target_encoding")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got.nonEmpty)
    val byCat = Tables.orders(spark, sf).collect()
      .map(r => (r.getAs[String]("o_orderpriority"),
        (BigDecimal(r.getAs[Double]("o_totalprice"))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
      .groupBy(_._1).view.mapValues(v => (v.map(_._2).sum, v.length)).toMap
    got.foreach { case (k, cat, cents, loo) =>
      assert(k % 997 == 0)
      val (s, n) = byCat(cat)
      assert(loo.contains((s - cents).toDouble / (n - 1)),
        s"order $k: LOO must be (S - own)/(n - 1)")
    }
  }

  test("merge apply never emits a deleted or dangling action and keeps base untouched rows") {
    val rows = SparkEntry.queries("q107_merge_apply")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val actions = rows.map(_._2).toSet
    assert(actions.subsetOf(Set("kept", "updated", "inserted")),
      s"unexpected actions: $actions")
    rows.foreach { case (st, act, n, s2) =>
      assert(n > 0 && st.nonEmpty)
      assert(s2 > 0.0, s"$st/$act: non-positive value sum $s2")
    }
  }

  test("q246 winsorized mean equals a driver-side clamp recomputation") {
    val got = SparkEntry.queries("q246_winsorized_means")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(got.nonEmpty)
    val rows = Tables.orders(spark, sf).select("o_orderpriority", "o_totalprice")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    // Spark's percentile(): exact linear interpolation at rank p·(n−1)
    def pct(vs: Array[Double], p: Double): Double = {
      val s = vs.sorted
      val rank = p * (s.length - 1)
      val lo = rank.toInt
      if (lo + 1 >= s.length) s(lo)
      else s(lo) + (rank - lo) * (s(lo + 1) - s(lo))
    }
    got.foreach { case (pr, n, nBelow, nAbove, wm, p05, p95) =>
      val vs = rows.filter(_._1 == pr).map(_._2)
      assert(vs.length.toLong == n)
      val lo = pct(vs, 0.05)
      val hi = pct(vs, 0.95)
      assert(nBelow == vs.count(_ < lo) && nAbove == vs.count(_ > hi))
      // clamped mean must land inside the clamp band
      assert(wm >= p05 - 1e-6 && wm <= p95 + 1e-6)
      val sIn = vs.filter(v => v >= lo && v <= hi)
        .map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      val exp = (sIn.toDouble + nBelow * lo + nAbove * hi) / n
      assert(math.abs(wm - exp) <= 1e-6, s"$pr: $wm vs $exp")
    }
  }

  test("q247 CV folds partition orders and OOF means complement fold means") {
    val got = SparkEntry.queries("q247_cv_folds")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 5, "all five folds must be populated")
    val o = Tables.orders(spark, sf)
      .selectExpr("cast(cast(o_totalprice as decimal(14,2)) * 100 as long) as cents",
        "cast(conv(substring(md5(concat('cv|', cast(o_orderkey as string))), 1, 14)," +
          " 16, 10) as long) % 5 as fold")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).sum == o.length.toLong, "folds must partition the table")
    val sAll = o.map(v => BigInt(v._1)).sum
    val nAll = o.length.toLong
    got.foreach { case (fold, n, fm, oof) =>
      val inFold = o.filter(_._2 == fold)
      assert(inFold.length.toLong == n && n > 0)
      val s = inFold.map(v => BigInt(v._1)).sum
      assert(fm == (s * 1000000 / (BigInt(n) * 100)).toLong, s"fold $fold mean")
      assert(oof == ((sAll - s) * 1000000 / (BigInt(nAll - n) * 100)).toLong,
        s"fold $fold OOF mean")
    }
  }

  test("q249 dyadic EWMA equals a BigInt recomputation over each type's series") {
    val got = SparkEntry.queries("q249_ewma_smoothing")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (t, rows) =>
      val series = rows.sortBy(_._2)
      series.zipWithIndex.foreach { case ((_, _, x, nObs, ewma), i) =>
        assert(nObs == math.min(i + 1, 10).toLong, s"$t row $i n_obs")
        val lags = (0 to math.min(i, 9)).map(k => series(i - k)._3)
        val num = lags.zipWithIndex.map { case (v, k) => BigInt(v) << (9 - k) }.sum
        val den = lags.indices.map(k => BigInt(1) << (9 - k)).sum
        assert(ewma == (num / den).toLong, s"$t day-row $i ewma")
        // a weighted mean of window values stays inside their range
        assert(ewma >= lags.min - 1 && ewma <= lags.max,
          s"$t row $i ewma $ewma outside [${lags.min},${lags.max}]")
        assert(x == series(i)._3)
      }
    }
  }

  test("q250 peak concurrency equals a driver-side sweep recomputation") {
    val got = SparkEntry.queries("q250_peak_concurrency")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.nonEmpty)
    val GAP = 1800L * 1000000000L
    val DAY = 86400L * 1000000000L
    val ev = Tables.events(spark, sf).selectExpr("user_id", "event_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).values.toSeq.flatMap { g =>
      val ts = g.sortBy(r => (r._3, r._2)).map(_._3)
      val bounds = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var st = ts.head
      var en = ts.head
      ts.tail.foreach { t =>
        if (t - en <= GAP) en = t
        else { bounds += ((st, en)); st = t; en = t }
      }
      bounds += ((st, en))
      bounds.toSeq
    }
    val exp = sessions
      .flatMap { case (st, en) => (st / DAY to en / DAY).map { day =>
        (day, math.max(st, day * DAY), math.min(en, (day + 1) * DAY - 1)) } }
      .groupBy(_._1).map { case (day, slices) =>
        val deltas = slices.flatMap(s => Seq((s._2, 1L), (s._3 + 1, -1L)))
          .sortBy(d => (d._1, -d._2))
        var run = 0L
        var peak = Long.MinValue
        deltas.foreach { d => run += d._2; peak = math.max(peak, run) }
        (day, peak, slices.size.toLong)
      }.toSeq.sortBy(_._1)
    assert(got.toSeq == exp, s"got=${got.take(3).toSeq} want=${exp.take(3)}")
  }

  test("q251 bitmap distinct equals plain COUNT(DISTINCT) at both grains") {
    val got = SparkEntry.queries("q251_bitmap_distinct")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .selectExpr("(ts div 1000000000) div 86400 as day", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (day, nDay, week, nWeek) =>
      assert(week == day / 7)
      assert(nDay == ev.filter(_._1 == day).map(_._2).distinct.length.toLong,
        s"day $day daily distinct")
      assert(nWeek == ev.filter(_._1 / 7 == week).map(_._2).distinct.length.toLong,
        s"week $week re-aggregated distinct")
      // re-aggregation can only grow or hold the daily count
      assert(nWeek >= nDay)
    }
  }

  test("q252 reconciliation audit equals a driver-side recomputation") {
    val got = SparkEntry.queries("q252_reconciliation_audit")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    val lines = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey",
        "cast(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100)" +
          " as long) as c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
    val orders = Tables.orders(spark, sf)
      .selectExpr("o_orderkey", "o_orderpriority",
        "cast(cast(o_totalprice as decimal(14,2)) * 100 as long) as stated")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    got.foreach { case (pr, n, nNoLines, nMis, maxDev, sumDev) =>
      val os = orders.filter(_._2 == pr)
      val devs = os.map(o => math.abs(o._3 - lines.getOrElse(o._1, 0L)))
      assert(n == os.length.toLong)
      assert(nNoLines == os.count(o => !lines.contains(o._1)).toLong)
      assert(nMis == devs.count(_ != 0L).toLong)
      assert(maxDev == devs.max && sumDev == devs.sum, s"$pr deviation profile")
    }
  }

  test("q257 linear attribution equals a driver-side credit split") {
    val got = SparkEntry.queries("q257_linear_attribution")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.nonEmpty)
    val WEEK = 7L * 86400L * 1000000000L
    val ev = Tables.events(spark, sf).selectExpr("user_id", "event_id", "event_type", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val touches = ev.filter(e => e._3 == "click" || e._3 == "view")
    val acc = scala.collection.mutable.Map[String, (Long, Set[Long], Long)]()
      .withDefaultValue((0L, Set.empty, 0L))
    ev.filter(_._3 == "purchase").foreach { case (u, convId, _, tp) =>
      val inWin = touches.filter(t =>
        t._1 == u && t._4 < tp && t._4 >= tp - WEEK)
      if (inWin.isEmpty) {
        val (s0, c0, t0) = acc("direct")
        acc("direct") = (s0 + 1000000L, c0 + convId, t0)
      } else inWin.foreach { t =>
        val (s0, c0, t0) = acc(t._3)
        acc(t._3) = (s0 + 1000000L / inWin.length, c0 + convId, t0 + 1)
      }
    }
    val exp = acc.map { case (ch, (s, cs, t)) => (ch, s, cs.size.toLong, t) }.toSet
    assert(got == exp, s"got=$got want=$exp")
  }

  test("q258 rolling median equals a driver-side window recomputation") {
    val got = SparkEntry.queries("q258_rolling_median")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    def median(vs: Seq[Long]): Double = {
      val s = vs.sorted.map(_.toDouble)
      val rank = 0.5 * (s.length - 1)
      val lo = rank.toInt
      if (lo + 1 >= s.length) s(lo)
      else s(lo) + (rank - lo) * (s(lo + 1) - s(lo))
    }
    got.groupBy(_._1).foreach { case (t, rows) =>
      val series = rows.sortBy(_._2)
      series.zipWithIndex.foreach { case ((_, _, x, nW, med), i) =>
        val win = series.slice(math.max(0, i - 6), i + 1).map(_._3)
        assert(nW == win.length.toLong, s"$t row $i window size")
        assert(x == series(i)._3)
        val exp = BigDecimal(median(win.toSeq) / 100.0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(med - exp) <= 1e-6, s"$t row $i median $med vs $exp")
      }
    }
  }

  test("q261 skew advisor equals a driver-side frequency profile") {
    val got = SparkEntry.queries("q261_skew_advisor")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.length == 5)
    val counts = Tables.events(spark, sf).select("user_id").collect()
      .map(_.getLong(0)).groupBy(identity).map { case (u, g) => (u, g.length.toLong) }
    val nKeys = counts.size.toLong
    val nRows = counts.values.sum
    val maxCnt = counts.values.max
    val top = counts.toSeq.sortBy { case (u, c) => (-c, u) }.take(5)
    got.zip(top).foreach { case ((rank, u, cnt, share, nk, skew, salt), (eu, ec)) =>
      assert(u == eu && cnt == ec, s"rank $rank hot key")
      assert(share == BigInt(cnt) * 1000000 / nRows)
      assert(nk == nKeys)
      assert(skew == (BigInt(maxCnt) * nKeys * 1000000 / nRows).toLong)
      assert(salt == ((BigInt(maxCnt) * nKeys + nRows - 1) / nRows).toLong)
      // the salt must be enough to split the hottest key below the mean
      assert(salt >= 1 && maxCnt <= salt * (nRows / nKeys + 1))
    }
  }

  test("q263 drill-down shares: nations partition regions, regions partition total") {
    val got = SparkEntry.queries("q263_drilldown_shares")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val nOrders = Tables.orders(spark, sf).count()
    assert(got.map(_._3).sum == nOrders, "nation rows must partition orders")
    // per region: nation shares of region sum to ~1e6 (integer-floor dust)
    got.groupBy(_._1).foreach { case (r, rows) =>
      val s = rows.map(_._4).sum
      assert(s > 1000000L - rows.length && s <= 1000000L,
        s"region $r nation shares sum $s")
      assert(rows.map(_._5).distinct.length == 1, "one region share per region")
    }
    val regionShares = got.groupBy(_._1).map(_._2.head._5).toSeq
    val rs = regionShares.sum
    assert(rs > 1000000L - regionShares.length && rs <= 1000000L)
  }

  test("q264 RI audit reports zero orphans on the consistent corpus and catches a break") {
    val got = SparkEntry.queries("q264_ri_audit")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 5)
    val li = Tables.lineitem(spark, sf).count()
    got.foreach { case (rel, nChild, nOrphans, ppm) =>
      if (rel.startsWith("lineitem")) assert(nChild == li)
      assert(nOrphans == 0L && ppm == 0L, s"$rel unexpectedly inconsistent")
    }
    // the audit is not vacuous: a child keyed past the parent domain trips it
    import spark.implicits._
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(1L, 1L, 3L).toDF("ck")
    val broken = child.join(
        org.apache.spark.sql.functions.broadcast(parent), $"ck" === $"pk", "left")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when($"pk".isNull, 1L).otherwise(0L)))
      .collect()(0).getLong(0)
    assert(broken == 1L)
  }

  test("q265 k-anonymity bands partition the corpus and agree with a driver walk") {
    val got = SparkEntry.queries("q265_k_anonymity")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf).selectExpr(
        "(ts div 1000000000) div 86400 as day", "event_type",
        "cast(cast(value as decimal(18,2)) * 100 as long) as vc")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val maxvc = ev.map(_._3).max
    val classes = ev.groupBy(e =>
        (e._1, e._2, math.min(e._3 * 10 / (maxvc + 1), 9L)))
      .map(_._2.size.toLong).toSeq
    def band(k: Long): String =
      if (k == 1) "1 (unique)" else if (k < 5) "2-4 (below k=5)"
      else if (k < 20) "5-19" else "20+"
    val expBands = classes.groupBy(band).map { case (b, ks) =>
      (b, ks.size.toLong, ks.sum) }
    assert(got.map(_._3).sum == ev.length.toLong, "bands must partition rows")
    got.foreach { case (b, nCls, nRows, ppm, kMin) =>
      val (_, eCls, eRows) = expBands.find(_._1 == b)
        .map(e => (e._1, e._2, e._3)).get
      assert(nCls == eCls && nRows == eRows, s"band $b")
      assert(ppm == nRows * 1000000L / ev.length)
      assert(kMin == classes.min)
    }
  }

  test("q268 Spearman rho equals a driver recomputation on average ranks") {
    val got = SparkEntry.queries("q268_spearman_rho")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    val lc = Tables.lineitem(spark, sf).select("l_orderkey").collect()
      .map(_.getLong(0)).groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val o = Tables.orders(spark, sf)
      .selectExpr("o_orderkey", "o_orderpriority",
        "cast(cast(o_totalprice as decimal(14,2)) * 100 as long) as x")
      .collect().map(r => (r.getString(1), r.getLong(2), lc.getOrElse(r.getLong(0), 0L)))
    def rank2(vs: Seq[Long]): Map[Long, Long] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val minRank = sorted.indexOf(v) + 1L
        val cnt = vs.count(_ == v).toLong
        v -> (2 * minRank + cnt - 1)
      }.toMap
    }
    got.foreach { case (prio, n, rho) =>
      val g = o.filter(_._1 == prio)
      assert(n == g.length.toLong)
      val rxm = rank2(g.map(_._2))
      val rym = rank2(g.map(_._3))
      val (sx, sy, sxx, syy, sxy) = g.foldLeft(
        (BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))) {
        case ((a, b2, c, dd, e), (_, x, y)) =>
          val rx = BigInt(rxm(x)); val ry = BigInt(rym(y))
          (a + rx, b2 + ry, c + rx * rx, dd + ry * ry, e + rx * ry)
      }
      val exp = math.round((n * sxy - sx * sy).toDouble
        / math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
        * 1e9) / 1e9
      assert(math.abs(rho - exp) <= 2e-9, s"$prio rho $rho vs $exp")
      assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9)
    }
  }

  test("q270 growth accounting satisfies both decomposition identities") {
    val got = SparkEntry.queries("q270_growth_accounting")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(got.nonEmpty)
    // DAU_t = new + retained + resurrected
    got.foreach { case (day, dau, nNew, nRet, nRes, _) =>
      assert(dau == nNew + nRet + nRes, s"day $day DAU identity")
    }
    // ΔDAU = new + resurrected − churned on consecutive days
    got.toSeq.sliding(2).foreach {
      case Seq((d1, dau1, _, _, _, _), (d2, dau2, nNew, _, nRes, nChu))
        if d2 == d1 + 1 =>
        assert(dau2 - dau1 == nNew + nRes - nChu, s"day $d2 ΔDAU identity")
      case _ =>
    }
    // every user is new exactly once
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(got.map(_._3).sum == nUsers)
    // churn is censored at the horizon: nobody churns after the last day
    assert(got.last._6 >= 0 && got.map(_._6).sum <= nUsers * got.length)
  }

  test("q273 Fano factor equals a driver recomputation on the dense day grid") {
    val got = SparkEntry.queries("q273_fano_factor")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .selectExpr("event_type", "(ts div 1000000000) div 86400 as day")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    got.foreach { case (t, nDays, nEvents, fano) =>
      val days = ev.filter(_._1 == t).map(_._2)
      val d0 = days.min
      val d1 = days.max
      val dense = (d0 to d1).map(day => days.count(_ == day).toLong)
      assert(nDays == dense.length.toLong && nEvents == dense.sum)
      val n = dense.length.toDouble
      val s = dense.map(c => BigInt(c)).sum.toDouble
      val ssq = dense.map(c => BigInt(c) * c).sum.toDouble
      val exp = math.round((ssq - s * s / n) / (n - 1) / (s / n) * 1e6) / 1e6
      assert(math.abs(fano - exp) <= 2e-6, s"$t F $fano vs $exp")
      assert(fano > 0.0)
    }
  }

  test("q276 merged-partial percentiles equal direct type-1 quantiles at every level") {
    val got = SparkEntry.queries("q276_quantile_rollup")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.nonEmpty)
    val raw = Tables.lineitem(spark, sf)
      .selectExpr("l_returnflag", "l_linestatus", "cast(l_quantity as long)")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // direct quantiles from RAW rows per level — a lost/double-merged
    // histogram partial shows up as a rank shift here
    def typ1(xs: Seq[Long], num: Long, den: Long): Long = {
      val sorted = xs.sorted
      sorted(((num * sorted.length + den - 1) / den - 1).toInt)
    }
    def check(key: (String, String), xs: Seq[Long]): Unit = {
      val (n, p50, p90, p99) = got(key)
      assert(n == xs.length.toLong, s"$key n")
      assert(p50 == typ1(xs, 1, 2), s"$key p50")
      assert(p90 == typ1(xs, 9, 10), s"$key p90")
      assert(p99 == typ1(xs, 99, 100), s"$key p99")
    }
    raw.groupBy(r => (r._1, r._2)).foreach { case (k, v) => check(k, v.map(_._3).toSeq) }
    raw.groupBy(_._1).foreach { case (f, v) => check((f, "*"), v.map(_._3).toSeq) }
    check(("*", "*"), raw.map(_._3).toSeq)
    // every level present: fine ∪ per-flag ∪ grand total
    assert(got.keySet.count(_._2 == "*") ==
      raw.map(_._1).distinct.length + 1)
  }

  test("q273 emits NULL fano for a single-day span (engine-parity guard)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // All events of one type land on one day: n_days = 1 makes the sample
    // variance undefined — the guard must emit NULL, not Infinity-cast-to-
    // Long.MaxValue (the DuckDB twin's CASE WHEN COUNT(*) > 1 agrees).
    val base = 1704412800L // 2024-01-05T00:00:00Z
    val rows = (0 until 5).map(i => (i.toLong, base + i * 60L)) // one day
    val dir = java.nio.file.Files.createTempDirectory("graft_fano1").toString
    rows.toDF("event_id", "es")
      .select($"event_id", timestamp_seconds($"es").as("ts"),
        lit(7L).as("user_id"), lit("click").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q273_fano_factor")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getLong(1) == 1L && r.head.getLong(2) == 5L)
    assert(r.head.isNullAt(3), "single-day span must yield NULL fano")
  }

  test("q288 maintained quantile histogram serves exactly the from-scratch rollup") {
    val ivm = SparkEntry.queries("q288_quantile_ivm")(spark, sf).collect()
      .map(_.toSeq).toSeq
    val scratch = SparkEntry.queries("q276_quantile_rollup")(spark, sf).collect()
      .map(_.toSeq).toSeq
    assert(ivm.nonEmpty && ivm == scratch,
      "IVM-maintained histogram must serve the from-scratch answer")
  }

  test("q302 SLA percentiles equal direct type-1 quantiles on joined latencies") {
    val got = SparkEntry.queries("q302_sla_percentiles")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.nonEmpty)
    val li = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey", "unix_timestamp(l_shipdate) as sd").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ord = Tables.orders(spark, sf)
      .selectExpr("o_orderkey", "o_orderpriority", "unix_timestamp(o_orderdate) as od")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val lat = li.map { case (ok, sd) =>
      val (pri, od) = ord(ok); (pri, (sd - od) / 86400L)
    }
    def typ1(xs: Seq[Long], num: Long, den: Long): Long = {
      val s0 = xs.sorted; s0(((num * s0.length + den - 1) / den - 1).toInt)
    }
    got.foreach { case (pri, (n, p50, p90, p99)) =>
      val xs = lat.filter(_._1 == pri).map(_._2).toSeq
      assert(n == xs.length.toLong && p50 == typ1(xs, 1, 2) &&
        p90 == typ1(xs, 9, 10) && p99 == typ1(xs, 99, 100), s"$pri")
      assert(p50 >= 0 && p50 <= p90 && p90 <= p99)
    }
  }

  test("q303 capped sessions: every part under 4h, parts partition q27 sessions") {
    val capped = SparkEntry.queries("q303_capped_sessions")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3), r.getLong(5)))
    assert(capped.nonEmpty)
    capped.foreach { case ((u, sid, sub), _, dur) =>
      assert(dur < 14400L, s"part ($u,$sid,$sub) spans $dur s >= 4h")
      assert(sub >= 0L)
    }
    // sub-session event counts re-sum to q27's uncapped sessions
    val uncapped = queries.Events.q27(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val resummed = capped.groupBy(c => (c._1._1, c._1._2))
      .map { case (k, v) => k -> v.map(_._2).sum }
    assert(resummed == uncapped, "capped parts must partition the gap sessions")
    // the cap actually fired somewhere (data has >4h gap-sessions) or not —
    // either way at least one session must exist with sub_idx 0
    assert(capped.exists(_._1._3 == 0L))
  }
}
