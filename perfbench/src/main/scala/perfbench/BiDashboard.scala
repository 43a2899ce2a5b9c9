package perfbench

import java.sql.{Connection, DriverManager, Timestamp}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}

import scala.jdk.CollectionConverters._

import graft.etl.{BiServe, Pipeline, Warehouse}

/** Open-loop dashboard traffic over the JDBC endpoint: one generator
  * thread sends statements on a fixed schedule to a pool of connections,
  * and each statement is timed from when it was due. */
object BiDashboard {
  /** Arrival rate, statements per second: about half the single-connection
    * capacity measured when the benchmark was defined (mean warm service
    * time of the mix on one connection, at local[4]). */
  val rate = 2.4

  /** Hourly batches seeded into `crypto_prices` at set-up, each one
    * `Pipeline.run` and one parquet file: half a day, all inside the
    * hourly-trend statement's 24-hour window. */
  val hours = 12

  final case class Sent(kind: String, sql: String, dueNs: Long)
  final case class Done(sent: Sent, dispatchNs: Long, startNs: Long, execNs: Long, endNs: Long,
      rows: Vector[String], error: Option[Throwable])

  /** The statement mix of one schedule block, in seeded order: dashboard SQL
    * over the `crypto_prices` catalog table (hourly trend, latest prices,
    * freshness) and an aggregate, a 3-way join and point lookups over the
    * sf0.1 tables. Parameters come from small seeded pools, so the block has
    * few distinct texts and each one's expected result is computed once. */
  final class Mix(seed: Long, coins: Vector[String], now: Timestamp) {
    private val rng = new scala.util.Random(seed)
    private def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
    private val nowLit = s"TIMESTAMP '$now'"
    private val trendCoins = Seq.fill(5)(pick(coins)).distinct.map(c => s"'$c'").mkString(", ")
    private val orderKeys = Seq.fill(2)(rng.nextInt(150000))
    private val custKeys = Seq.fill(2)(rng.nextInt(15000))
    // a dashboard's date filter: one month of orders
    private def month(): (Int, Int) = (1996 + rng.nextInt(5), 1 + rng.nextInt(12))
    private val aggMonth = month()
    private val joinMonth = month()
    private def monthOf(c: String, ym: (Int, Int)): String = {
      val (y, m) = ym
      val (y2, m2) = if (m == 12) (y + 1, 1) else (y, m + 1)
      f"$c >= TIMESTAMP_NTZ '$y-$m%02d-01 00:00:00' AND $c < TIMESTAMP_NTZ '$y2-$m2%02d-01 00:00:00'"
    }

    /** (name, weight in a block, pool of statement texts) per template.
      * Sorted by latency, a block runs lookups < latest < freshness < trend ≈
      * aggregate < join; the weights put the median inside the latest-price
      * statements and the 90th percentile inside trend and aggregate, not on
      * the gap between two kinds, where it jumped between runs. */
    private val templates: Seq[(String, Int, Seq[String])] = Seq(
      ("trend", 2, Seq(
        "SELECT crypto_id, date_trunc('HOUR', extracted_at) AS hour, count(*) AS n, " +
          "avg(price_usd) AS avg_price, min(price_usd) AS low, max(price_usd) AS high " +
          s"FROM crypto_prices WHERE crypto_id IN ($trendCoins) " +
          s"AND extracted_at >= $nowLit - INTERVAL 24 HOURS GROUP BY 1, 2 ORDER BY 1, 2")),
      ("latest", 4, Seq(10, 25).map(n =>
        "SELECT crypto_id, max_by(price_usd, extracted_at) AS price_usd, " +
          "max(extracted_at) AS as_of FROM crypto_prices GROUP BY crypto_id " +
          s"ORDER BY price_usd DESC LIMIT $n")),
      ("freshness", 1, Seq(
        "SELECT max(extracted_at) AS newest, count(*) AS n_rows, " +
          "count(DISTINCT crypto_id) AS coins, " +
          s"CAST((unix_timestamp($nowLit) - unix_timestamp(max(extracted_at))) / 3600 " +
          "AS BIGINT) AS hours_stale FROM crypto_prices")),
      ("aggregate", 1, Seq(
        "SELECT o_orderpriority, o_orderstatus, count(*) AS n, " +
          "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total FROM global_temp.orders " +
          s"WHERE ${monthOf("o_orderdate", aggMonth)} GROUP BY 1, 2 ORDER BY 1, 2")),
      ("join3", 1, Seq(
        "SELECT n_name, count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total " +
          "FROM global_temp.orders JOIN global_temp.customer ON o_custkey = c_custkey " +
          "JOIN global_temp.nation ON c_nationkey = n_nationkey " +
          s"WHERE ${monthOf("o_orderdate", joinMonth)} GROUP BY 1 ORDER BY 1")),
      ("order_lookup", 1,
        orderKeys.map(k => s"SELECT * FROM global_temp.orders WHERE o_orderkey = $k")),
      ("customer_lookup", 2, custKeys.map(k =>
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM global_temp.customer " +
          s"WHERE c_custkey = $k")))

    val blockSize: Int = templates.map(_._2).sum

    /** Every statement text the mix can send. */
    def distinct: Seq[String] = templates.flatMap(_._3).distinct

    /** One block: each template `weight` times, in seeded order, as
      * (template name, statement text). */
    def block(): Seq[(String, String)] =
      rng.shuffle(templates.flatMap { case (n, w, pool) => Seq.fill(w)(n -> pool) })
        .map { case (n, pool) => n -> pick(pool) }
  }

  /** Value text that is the same whether a value came over JDBC or from
    * an in-process `Row`. */
  def norm(v: Any): String = v match {
    case null => "NULL"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: java.lang.Double => java.lang.Double.toString(d)
    case f: java.lang.Float => java.lang.Double.toString(f.doubleValue)
    // TIMESTAMP arrives as java.sql.Timestamp on both sides, TIMESTAMP_NTZ
    // as LocalDateTime in-process but as Timestamp over JDBC; the JVM zone
    // is UTC, like the session's
    case t: Timestamp => t.toLocalDateTime.toString
    case o => o.toString
  }

  def viaJdbc(c: Connection, sql: String, execDone: () => Unit = () => ()): Vector[String] = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      execDone()
      val n = rs.getMetaData.getColumnCount
      val out = Vector.newBuilder[String]
      while (rs.next()) out += (1 to n).map(i => norm(rs.getObject(i))).mkString("|")
      out.result().sorted
    } finally st.close()
  }

  def run(r: Run): Outcome = {
    val spark = r.spark
    val gen = new TickGen(r.seed)
    val path = r.dir("warehouse/crypto_prices").toString
    var lastTs: Timestamp = null
    // Set-up: seed crypto_prices with `hours` hourly batches through the
    // write path, one Pipeline.run each, so reads see the file layout the
    // ticks produce. Each batch is one set-up repetition.
    val setup = r.setup(hours) { h =>
      var t = if (h == 0) gen.bootstrap() else gen.next()
      while (t.kind == "replay") t = gen.next()
      Pipeline.run(spark, t.payload, t.batchTs, path, t.now)
      lastTs = t.batchTs
      Warehouse.ensureTable(spark, "crypto_prices", path)
      spark.catalog.refreshTable("crypto_prices")
    }
    val conns = r.phase("endpoint") {
      BiServe.exposeTables(spark, r.sfDir)
      val endpoint = BiServe.start(spark)
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      (0 until spark.sparkContext.defaultParallelism)
        .map(_ => DriverManager.getConnection(endpoint.jdbcUrl, "", ""))
    }
    // The JDBC connections stay open until the JVM exits (see Main).
    val mix = new Mix(r.seed, gen.coinIds, new Timestamp(lastTs.getTime + 10 * gen.minute))
    val blocks = r.ops(rate, mix.blockSize) / mix.blockSize
    def schedule(): Seq[(String, String)] = Seq.fill(blocks)(mix.block()).flatten
    // Expected results: every distinct statement once through in-process
    // spark.sql, which also warms the plans' generated code.
    val expected = r.phase("warmup")(mix.distinct.map(sql => sql -> spark.sql(sql).collect()
      .map(_.toSeq.map(norm).mkString("|")).toVector.sorted).toMap)
    def check(d: Done): Unit = r.attempt {
      d.error.foreach(e => throw e)
      r.check(expected.get(d.sent.sql).contains(d.rows),
        s"JDBC result differs from spark.sql for: ${d.sent.sql}")
    }
    // Warm-up over JDBC: two blocks of the mix, each sent at once, untimed;
    // after one, statements still run ~15% slower than after two.
    (1 to 2).foreach(_ =>
      r.phase("warmup")(window(conns, mix.block(), Double.PositiveInfinity)).foreach(check))
    // A traced run sends two schedules in quarters, untraced and traced in
    // turn, so both halves see the same warm-up state.
    val parts = r.tracer.fold(Seq(schedule())) { _ =>
      (schedule() ++ schedule()).grouped(blocks * mix.blockSize / 2).toSeq
    }
    val untraced = Seq.newBuilder[Done]
    val traced = Seq.newBuilder[Done]
    var counters = Map.empty[String, Double]
    parts.zipWithIndex.foreach { case (part, k) =>
      r.tracer.filter(_ => k % 2 == 1) match {
        case None => untraced ++= r.phase("measure")(window(conns, part))
        case Some(tr) =>
          val c0 = tr.counters()
          Counters.recording = true
          traced ++= r.phase("measure_traced")(window(conns, part))
          val d = Tracer.delta(tr.counters(), c0)
          Counters.recording = false
          counters = (counters.keySet ++ d.keySet)
            .map(k => k -> (counters.getOrElse(k, 0.0) + d.getOrElse(k, 0.0))).toMap
      }
    }
    val plain = untraced.result()
    val done = traced.result()
    r.tracer.foreach { tr =>
      val perOp = counters.map { case (k, v) => k -> v / done.size }
      done.zipWithIndex.foreach { case (s, i) =>
        val id = tr.newId()
        tr.add(Span(i, id, -1, "op", s.sent.dueNs, s.endNs, perOp))
        tr.record(i, id, "bi.queue_wait_s", s.sent.dueNs, s.startNs)
        tr.record(i, id, "bi.exec_s", s.startNs, s.execNs)
        tr.record(i, id, "bi.fetch_s", s.execNs, s.endNs)
      }
    }
    (plain ++ done).foreach(check)
    val (files, bytes) = EtlTicks.layout(java.nio.file.Paths.get(path))
    val rows = spark.table("crypto_prices").count()
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val layers = Map(
      "bi.rows_returned" -> mean(done.map(_.rows.size.toDouble)),
      "gen.late_s" -> mean(done.map(s => (s.dispatchNs - s.sent.dueNs) / 1e9)),
      "warehouse.files" -> files.toDouble,
      "warehouse.bytes_per_row" -> bytes.toDouble / math.max(1L, rows))
    def latency(xs: Seq[Done]) = xs.map(s => (s.endNs - s.sent.dueNs) / 1e9)
    plain.groupBy(_.sent.kind).foreach { case (k, xs) =>
      r.phases(s"p50_latency.$k") = Run.quantile(latency(xs), 0.5)
    }
    Outcome(setup, latency(plain), latency(done),
      Run.layerStats(r.tracer.map(_.all).getOrElse(Nil)), layers)
  }

  /** Sends `stmts` at `perSecond` from this thread to one worker per
    * connection and waits for all of them. */
  private def window(conns: Seq[Connection], stmts: Seq[(String, String)],
      perSecond: Double = rate): Seq[Done] = {
    val queue = new LinkedBlockingQueue[Option[(Sent, Long)]]()
    val done = new ConcurrentLinkedQueue[Done]()
    val workers = conns.map { c =>
      val t = new Thread(() => {
        var item = queue.take()
        while (item.isDefined) {
          val (sent, dispatched) = item.get
          val start = System.nanoTime()
          var exec = 0L
          val res = try Right(viaJdbc(c, sent.sql, () => exec = System.nanoTime()))
            catch { case e: Throwable => Left(e) }
          val end = System.nanoTime()
          done.add(Done(sent, dispatched, start, if (exec == 0L) end else exec, end,
            res.getOrElse(Vector.empty), res.left.toOption))
          item = queue.take()
        }
      })
      t.start()
      t
    }
    val t0 = System.nanoTime() + 50000000L
    stmts.zipWithIndex.foreach { case ((kind, sql), i) =>
      val due = t0 + (i * 1e9 / perSecond).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      queue.put(Some((Sent(kind, sql, due), System.nanoTime())))
    }
    conns.foreach(_ => queue.put(None))
    workers.foreach(_.join())
    done.asScala.toSeq.sortBy(_.sent.dueNs)
  }
}
