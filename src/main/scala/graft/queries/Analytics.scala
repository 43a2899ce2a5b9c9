package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Final analytics surface pieces: statistical aggregates, the SQL-text
  * entry point (the Metabase equivalent, SURVEY.md §3.3), the reference's
  * own dashboard query on a generated crypto_prices series, and sketch
  * aggregates.
  */
object Analytics {
  import Q._

  // --- q60: statistical aggregates ----------------------------------------
  // Variance/stddev from exact decimal sums (sum, sum of squares), final
  // arithmetic in double — deterministic in both engines, unlike the
  // built-in stddev whose partial-merge order varies. Sample variance:
  // (ssq - sum²/n) / (n-1).
  def q60(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_q"),
        sum(($"l_quantity".cast("decimal(18,2)") * $"l_quantity".cast("decimal(18,2)")))
          .cast("double").as("ssq_q"),
        min($"l_quantity").as("min_q"), max($"l_quantity").as("max_q"))
      .select($"l_returnflag", $"n", $"min_q", $"max_q",
        ($"sum_q" / $"n").as("mean_q"),
        round((($"ssq_q" - $"sum_q" * $"sum_q" / $"n") / ($"n" - 1)), 6).as("var_q"),
        round(sqrt(($"ssq_q" - $"sum_q" * $"sum_q" / $"n") / ($"n" - 1)), 6).as("stddev_q"))
      .orderBy($"l_returnflag")
  }
  val q60Sql: String =
    """SELECT l_returnflag, n, min_q, max_q,
      |  sum_q / n AS mean_q,
      |  ROUND((ssq_q - sum_q * sum_q / n) / (n - 1), 6) AS var_q,
      |  ROUND(sqrt((ssq_q - sum_q * sum_q / n) / (n - 1)), 6) AS stddev_q
      |FROM (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_q,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ssq_q,
      |    MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q
      |  FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  // --- q61: SQL-text entry point over registered views ---------------------
  // Ad-hoc SQL like Metabase issues against the warehouse
  // (/root/reference/README.md:98-106): register every table as a view and
  // run a textual query through Catalyst.
  val q61Text: String =
    """SELECT c_mktsegment, o_orderstatus,
      |  COUNT(*) AS n_orders,
      |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |GROUP BY c_mktsegment, o_orderstatus
      |ORDER BY c_mktsegment, o_orderstatus""".stripMargin
  def q61(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q61Text)
  }

  // --- q62: the reference's dashboard on a generated crypto series ---------
  // Hourly price trend + hour-over-hour delta (README.md:43-45) over a
  // deterministic 4-coin x 72-hour crypto_prices series generated in-engine
  // (sequence+explode) and in the oracle (generate_series) from the same
  // closed-form price. Exercises the full Tier-A data model end-to-end.
  def q62(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val coins = Seq("bitcoin", "ethereum", "solana", "tether").zipWithIndex
      .map { case (c, i) => (c, i) }.toDF("crypto_id", "coin_idx")
    val series = coins
      .select($"crypto_id", $"coin_idx",
        explode(sequence(lit(0), lit(71))).as("h"))
      .select($"crypto_id",
        date_format(timestamp_seconds(
          unix_timestamp(to_timestamp(lit("2024-01-01 00:00:00"))) + $"h" * 3600L),
          "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
        // single integer expression divided once by 10.0: both engines round
        // to double exactly once, so values are bit-identical (two-step
        // double addition could differ by 1 ulp between engines)
        ((lit(1000) * ($"coin_idx" + 1) +
          (($"h" * 31 + $"coin_idx" * 7) % 100)) / lit(10.0)).as("price_usd"),
        $"h", $"coin_idx")
    val w = Window.partitionBy($"crypto_id").orderBy($"h")
    series.select($"crypto_id", $"hour_ts", $"price_usd",
      ($"price_usd" - lag($"price_usd", 1).over(w)).as("delta_prev_hour"),
      round(avg($"price_usd").over(w.rowsBetween(-5, 0)), 6).as("ma6"))
      .orderBy($"crypto_id", $"hour_ts")
  }
  val q62Sql: String =
    """WITH series AS (
      |  SELECT crypto_id, coin_idx, h,
      |    strftime(TIMESTAMP '2024-01-01 00:00:00' + h * INTERVAL 1 HOUR,
      |             '%Y-%m-%d %H:%M:%S') AS hour_ts,
      |    (1000 * (coin_idx + 1) + (h * 31 + coin_idx * 7) % 100) / CAST(10.0 AS DOUBLE) AS price_usd
      |  FROM (VALUES ('bitcoin', 0), ('ethereum', 1), ('solana', 2), ('tether', 3))
      |    AS coins(crypto_id, coin_idx),
      |    (SELECT unnest(range(0, 72)) AS h)
      |)
      |SELECT crypto_id, hour_ts, price_usd,
      |  price_usd - LAG(price_usd, 1) OVER w AS delta_prev_hour,
      |  ROUND(AVG(price_usd) OVER (w ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) AS ma6
      |FROM series
      |WINDOW w AS (PARTITION BY crypto_id ORDER BY h)
      |ORDER BY crypto_id, hour_ts""".stripMargin

  // --- q63: approximate distinct (HLL sketch) ------------------------------
  // approx_count_distinct's HLL register values differ from DuckDB's
  // implementation, so the raw estimate can't hash-match — instead the
  // hashed output carries the exact count plus a boolean stating the HLL
  // estimate landed within 3x the requested 2% relative error. HLL merges
  // are max-based and therefore deterministic regardless of partitioning,
  // so the flag is stable; the oracle asserts it is TRUE. AnalyticsSpec
  // additionally bounds the numeric error.
  def q63(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"),
        approx_count_distinct($"l_partkey", 0.02).as("approx_parts"))
      .select($"l_returnflag", $"exact_parts",
        (abs($"approx_parts" - $"exact_parts") <=
          $"exact_parts" * lit(0.06)).as("approx_within_6pct"))
      .orderBy($"l_returnflag")
  }
  val q63Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS approx_within_6pct
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // --- q64: scalar + correlated subqueries, HAVING -------------------------
  // Parts priced above the global average whose brand's average size beats
  // the part's own size; brands kept only when they retain > 3 such parts.
  // Spark side states the same semantics with joins against aggregated
  // frames (the plan Catalyst would decorrelate the SQL into anyway).
  def q64(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = Tables.part(s, d)
    val globalAvg = p.agg(
      (sum($"p_retailprice".cast("decimal(18,4)")).cast("double") / count(lit(1)))
        .as("g"))
    val brandAvgSize = p.groupBy($"p_brand".as("b_brand"))
      .agg((sum($"p_size".cast("decimal(18,2)")).cast("double") / count(lit(1)))
        .as("brand_avg_size"))
    p.crossJoin(globalAvg)
      .filter($"p_retailprice" > $"g")
      .join(brandAvgSize, $"p_brand" === $"b_brand")
      .filter($"brand_avg_size" > $"p_size")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_parts"), dsum($"p_retailprice").as("sum_price"))
      .filter($"n_parts" > 3)
      .orderBy($"p_brand")
  }
  val q64Sql: String =
    """SELECT p_brand, COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM part p
      |WHERE p_retailprice > (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) FROM part)
      |  AND (SELECT CAST(SUM(CAST(p2.p_size AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |       FROM part p2 WHERE p2.p_brand = p.p_brand) > p_size
      |GROUP BY p_brand
      |HAVING COUNT(*) > 3
      |ORDER BY p_brand""".stripMargin

  // --- q65: IN / NOT IN subqueries ----------------------------------------
  def q65(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bigOrders = Tables.orders(s, d).filter($"o_totalprice" > 400000)
      .select($"o_custkey")
    val c = Tables.customer(s, d)
    c.join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_big_spenders"), dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"c_mktsegment")
  }
  val q65Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_big_spenders,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // --- q66: exact percentiles / median ------------------------------------
  // Both engines interpolate continuous quantiles with the same
  // p*(n-1)-position definition; round(6) absorbs last-bit noise.
  def q66(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"))
      .orderBy($"o_orderpriority")
  }
  val q66Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
      |  ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // --- q67: GROUPING SETS (SQL text through both engines) ------------------
  val q67Text: String =
    """SELECT
      |  CASE WHEN GROUPING(c_mktsegment) = 1 THEN '(all)' ELSE c_mktsegment END AS segment,
      |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END AS status,
      |  COUNT(*) AS n_orders,
      |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus), (c_mktsegment), (o_orderstatus))
      |ORDER BY segment, status""".stripMargin
  def q67(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(q67Text)
  }

  // --- q68: array functions over tokenized documents -----------------------
  def q68(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    Tables.documents(s, d)
      .filter($"doc_id" < 100)
      .withColumn("toks", tokens($"text"))
      .select($"doc_id",
        concat_ws(",", slice($"toks", 1, 3)).as("first3"),
        concat_ws(",", slice(array_sort($"toks"), 1, 3)).as("sorted3"),
        concat_ws(",", slice(reverse($"toks"), 1, 3)).as("last3_rev"),
        array_contains($"toks", "spark").as("has_spark"),
        array_max($"toks").as("max_tok"),
        array_position($"toks", "data").cast("long").as("first_data_pos"))
      .orderBy($"doc_id")
  }
  val q68Sql: String =
    """SELECT doc_id,
      |  array_to_string(t[1:3], ',') AS first3,
      |  array_to_string(list_sort(t)[1:3], ',') AS sorted3,
      |  array_to_string(list_reverse(t)[1:3], ',') AS last3_rev,
      |  list_contains(t, 'spark') AS has_spark,
      |  list_aggregate(t, 'max') AS max_tok,
      |  CAST(COALESCE(list_position(t, 'data'), 0) AS BIGINT) AS first_data_pos
      |FROM (SELECT doc_id,
      |        string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      |      FROM documents)
      |WHERE doc_id < 100
      |ORDER BY doc_id""".stripMargin

  // --- q69: map functions over JSON payloads -------------------------------
  def q69(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter($"event_id" < 300)
      .withColumn("m", from_json($"props", org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")))
      .select($"event_id",
        concat_ws(",", map_keys($"m")).as("keys_csv"),
        size($"m").as("n_keys"),
        element_at($"m", "k").as("k_val"))
      .orderBy($"event_id")
  }
  val q69Sql: String =
    """SELECT event_id,
      |  array_to_string(json_keys(props), ',') AS keys_csv,
      |  CAST(len(json_keys(props)) AS INT) AS n_keys,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val
      |FROM events
      |WHERE event_id < 300
      |ORDER BY event_id""".stripMargin

  // --- q70: disjunctive multi-column predicates (TPC-H Q19 shape) ----------
  // OR across conjunctive clauses referencing join columns — exercises
  // predicate normalization/pushdown beyond simple conjunctions.
  def q70(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    l.join(p, $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 15) &&
          $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 25) &&
          $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#34" && $"p_size".between(1, 35) &&
          $"l_quantity".between(20, 30)))
      .agg(sum(money($"l_extendedprice") * oneMinus($"l_discount"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }
  val q70Sql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1.0 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // --- q71: cohort retention over the event stream -------------------------
  // Users cohorted by first-seen day; per (cohort, days-since) count of
  // distinct active users — the classic retention triangle, built from a
  // per-user min() self-aggregation joined back to activity.
  def q71(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .withColumn("day", expr("ts div 86400000000000"))
    val firstSeen = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    ev.join(firstSeen, "user_id")
      .groupBy($"cohort_day", ($"day" - $"cohort_day").as("days_since"))
      .agg(countDistinct($"user_id").as("active_users"),
        count(lit(1)).as("n_events"))
      .filter($"days_since" <= 7)
      .orderBy($"cohort_day", $"days_since")
  }
  val q71Sql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    CAST(FLOOR(epoch(date_trunc('second', ts)) / 86400.0) AS BIGINT) AS day
      |  FROM events
      |), first_seen AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
      |)
      |SELECT cohort_day, day - cohort_day AS days_since,
      |  COUNT(DISTINCT ev.user_id) AS active_users,
      |  COUNT(*) AS n_events
      |FROM ev JOIN first_seen ON ev.user_id = first_seen.user_id
      |WHERE day - cohort_day <= 7
      |GROUP BY cohort_day, day - cohort_day
      |ORDER BY cohort_day, days_since""".stripMargin

  // --- q87: approximate percentile (GK sketch scale path) ------------------
  // Like q63's HLL pattern: the sketch's raw estimate can't hash-match a
  // different engine, so the hashed output carries the exact median plus a
  // boolean self-check that the approx value's empirical rank is within the
  // requested error. Greenwald-Khanna guarantees SOME rank of the returned
  // element v — i.e. some position in [count(<v)+1, count(<=v)] — lies
  // within ε·N of the target for ANY merge order, so the sound tie-proof
  // check is two-sided: the interval's low end must not exceed (p+ε)N and
  // its high end must reach (p-ε)N (a single count(<=v) would overcount
  // duplicates of v and could flip the flag on tie-heavy data). 1/N slack
  // absorbs the integer boundary. One sketch pass + one rank probe — both
  // linear scans, no sort of the full column (the exact percentile column
  // is the oracle's job; at 100 TB only the sketch path runs).
  def q87(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val approx = li.groupBy($"l_returnflag")
      .agg(percentile_approx($"l_extendedprice", lit(0.5), lit(1000)).as("ap"),
        count(lit(1)).as("n"))
    val eps = 0.001
    li.join(approx, "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("exact_p50"),
        (((sum(when($"l_extendedprice" < $"ap", 1L).otherwise(0L)) + lit(1L)) /
            first($"n").cast("double") <= lit(0.5 + eps) + lit(1.0) / first($"n")) &&
          (sum(when($"l_extendedprice" <= $"ap", 1L).otherwise(0L)) /
            first($"n").cast("double") >= lit(0.5 - eps) - lit(1.0) / first($"n")))
          .as("approx_rank_ok"))
      .orderBy($"l_returnflag")
  }
  val q87Sql: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
      |  TRUE AS approx_rank_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // --- q142: market-basket association rules (support/confidence/lift) ----
  // Agrawal & Srikant 1994's measures over the part co-purchase graph:
  // distinct (order, part) pairs self-join WITHIN an order (≤ 17 items per
  // order → bounded fan-out, no skew), pair supports filter at ≥ 2, and
  // the per-part supports + order count attach by BROADCAST (part-sized
  // and one-row tables). confidence = supp/sa and lift = supp·N/(sa·sb)
  // are ratios/products of exact small integers — IEEE-identical in both
  // engines with no snapping needed (the Q.scala small-int-ratio rule).
  // Top-20 by (lift desc, pa, pb) ends in TakeOrderedAndProject.
  def q142(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // incidence + pair tables come from the per-dataset staged graph
    // (operators.CoPurchase) — the 1.2M-row pair self-join is paid once
    // per dataset dir, not once per graph query
    val op = graft.operators.CoPurchase.orderParts(s, d)
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
    val ps = op.groupBy($"p").agg(count(lit(1)).as("s1"))
    val nOrders = op.agg(countDistinct($"o").as("n_orders"))
    pairs
      .join(broadcast(ps.select($"p".as("pa"), $"s1".as("sa"))), "pa")
      .join(broadcast(ps.select($"p".as("pb"), $"s1".as("sb"))), "pb")
      .crossJoin(broadcast(nOrders))
      .select($"pa", $"pb", $"supp", $"sa", $"sb",
        ($"supp".cast("double") / $"sa").as("confidence"),
        (($"supp" * $"n_orders").cast("double") / ($"sa" * $"sb")).as("lift"))
      .orderBy($"lift".desc, $"pa", $"pb")
      .limit(20)
  }
  val q142Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
      |ps AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS s1 FROM op GROUP BY p),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS supp
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT pa, pb, supp, sa, sb,
      |  CAST(supp AS DOUBLE) / sa AS confidence,
      |  CAST(supp * n_orders AS DOUBLE) / (sa * sb) AS lift
      |FROM pairs
      |JOIN (SELECT p AS pa, s1 AS sa FROM ps) USING (pa)
      |JOIN (SELECT p AS pb, s1 AS sb FROM ps) USING (pb)
      |CROSS JOIN n
      |ORDER BY lift DESC, pa, pb
      |LIMIT 20""".stripMargin

  // --- q143: PageRank over the co-purchase graph (iterated sparse matvec) --
  // operators.Graph.pageRank on q142's pair graph expanded to both
  // directions (so every node has in- and out-edges — the operator's
  // no-dangling precondition). Two unrolled power iterations on the 1e-9
  // integer grid: contributions snap per-edge, per-node sums are exact
  // integer arithmetic, so the ranks — and the top-20 cut — are
  // bit-reproducible and the oracle restates both iterations verbatim.
  def q143(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
    val edges = pairs.select($"pa".as("src"), $"pb".as("dst"))
      .unionByName(pairs.select($"pb".as("src"), $"pa".as("dst")))
    graft.operators.Graph.pageRank(edges, iters = 2)
      .select($"node".as("part"), $"deg",
        ($"pr9".cast("double") / 1e9).as("pagerank"), $"pr9")
      .orderBy($"pr9".desc, $"part")
      .limit(20)
      .drop("pr9")
  }
  val q143Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS (
      |  SELECT pa AS src, pb AS dst FROM pairs
      |  UNION ALL SELECT pb, pa FROM pairs),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
      |nv AS (SELECT COUNT(*) AS v FROM deg),
      |p0 AS (
      |  SELECT src AS node, deg, CAST(round(1e9 / v) AS BIGINT) AS pr9
      |  FROM deg CROSS JOIN nv),
      |s1 AS (
      |  SELECT e.dst,
      |    CAST(SUM(CAST(round(CAST(0.85 AS DOUBLE) * p.pr9 / p.deg) AS BIGINT)) AS BIGINT) AS s9
      |  FROM edges e JOIN p0 p ON e.src = p.node GROUP BY e.dst),
      |p1 AS (
      |  SELECT d.src AS node, d.deg,
      |    CAST(round(CAST(0.15 AS DOUBLE) * 1e9 / v) AS BIGINT) + s9 AS pr9
      |  FROM deg d JOIN s1 ON d.src = s1.dst CROSS JOIN nv),
      |s2 AS (
      |  SELECT e.dst,
      |    CAST(SUM(CAST(round(CAST(0.85 AS DOUBLE) * p.pr9 / p.deg) AS BIGINT)) AS BIGINT) AS s9
      |  FROM edges e JOIN p1 p ON e.src = p.node GROUP BY e.dst),
      |p2 AS (
      |  SELECT d.src AS node, d.deg,
      |    CAST(round(CAST(0.15 AS DOUBLE) * 1e9 / v) AS BIGINT) + s9 AS pr9
      |  FROM deg d JOIN s2 ON d.src = s2.dst CROSS JOIN nv)
      |SELECT node AS part, deg, CAST(pr9 AS DOUBLE) / 1e9 AS pagerank
      |FROM p2
      |ORDER BY pr9 DESC, part
      |LIMIT 20""".stripMargin

  // --- q144: skyline / Pareto front (cheapest-per-size part frontier) ------
  // operators.Skyline.skyline2D over part (minimize p_retailprice, maximize
  // p_size): the dominance query engines rarely ship natively, computed
  // with the EquiDepth two-phase distributed prefix max instead of the
  // single-task sorted window. The oracle states the naive O(n²) NOT
  // EXISTS dominance form — same survivors, the scalable plan just
  // computes them distributed.
  def q144(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.operators.Skyline.skyline2D(Tables.part(s, d),
        $"p_retailprice", $"p_size")
      .select($"x".as("price"), $"y".as("size"), $"n_rows")
      .orderBy($"price", $"size")
  }
  val q144Sql: String =
    """WITH pts AS (
      |  SELECT p_retailprice AS x, p_size AS y, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM part GROUP BY 1, 2)
      |SELECT x AS price, y AS size, n AS n_rows
      |FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.x <= p.x AND q.y >= p.y AND (q.x < p.x OR q.y > p.y))
      |ORDER BY price, size""".stripMargin

  // --- q145: BFS hop distances (recursive-CTE semantics, iterated) ---------
  // operators.Graph.bfsHops from the smallest part in the co-purchase
  // graph: Spark SQL has no WITH RECURSIVE, so the engine re-expresses the
  // reachability recursion as frontier expansion (join + distinct +
  // anti-join per hop, reached table checkpointed). The oracle IS the
  // recursive CTE — DuckDB walks the same graph recursively and the
  // min-hop tables must hash-match.
  def q145(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the FULL co-purchase graph (every within-order pair, no support
    // floor — at sf0.1 the 3-hop ball from the seed covers ~20k nodes, a
    // real frontier workload; q142/q143 use the supp≥2 subgraph)
    val pairs = graft.operators.CoPurchase.pairs(s, d).select($"pa", $"pb")
    val edges = pairs.select($"pa".as("src"), $"pb".as("dst"))
      .unionByName(pairs.select($"pb".as("src"), $"pa".as("dst")))
    // seed = global min node; pairs are pa < pb, so min(pa) is it — reading
    // pairs, not edges, keeps the seed job off the operator's edge cache
    val seeds = pairs.agg(min($"pa").as("node"))
    graft.operators.Graph.bfsHops(edges, seeds, maxHops = 3).result
      .orderBy($"hop", $"node")
  }
  val q145Sql: String =
    """WITH RECURSIVE op AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.p AS pa, b.p AS pb
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      |edges AS MATERIALIZED (
      |  SELECT pa AS src, pb AS dst FROM pairs
      |  UNION ALL SELECT pb, pa FROM pairs),
      |walk AS (
      |  SELECT MIN(src) AS node, 0 AS hop FROM edges
      |  UNION
      |  SELECT e.dst, w.hop + 1
      |  FROM walk w JOIN edges e ON e.src = w.node
      |  WHERE w.hop < 3)
      |SELECT node, MIN(hop) AS hop FROM walk GROUP BY node
      |ORDER BY hop, node""".stripMargin

  // --- q147: triangle counting (degree-ordered, the clustering primitive) --
  // operators.Graph.triangleCounts over the supp≥2 co-purchase graph:
  // degree-ordered orientation caps every wedge apex at O(√E) out-degree,
  // wedges close with ONE equi-join (the wedge endpoint order matches the
  // orientation order). The oracle enumerates canonical a<b<c triangles
  // directly from the pa<pb pair list — the same triangle set by a
  // different (quadratic-safe-at-this-size) route. Top-10 nodes by count.
  def q147(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
      .select($"pa".as("a"), $"pb".as("b"))
    graft.operators.Graph.triangleCounts(pairs)
      .orderBy($"n_triangles".desc, $"node")
      .limit(10)
  }
  val q147Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |p AS (
      |  SELECT x.p AS a, y.p AS b
      |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |tri AS (
      |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
      |  FROM p e1
      |  JOIN p e2 ON e2.a = e1.b
      |  JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b),
      |nodes AS (
      |  SELECT unnest(list_value(ta, tb, tc)) AS node FROM tri)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM nodes GROUP BY node
      |ORDER BY n_triangles DESC, node
      |LIMIT 10""".stripMargin

  // --- q148: weighted shortest paths (bounded Bellman-Ford) ----------------
  // operators.Graph.sssp on the supp≥2 co-purchase graph with integer
  // affinity weights w = max(1, 6 − supp) (stronger co-purchase = closer):
  // 3 relaxation rounds from the smallest part. Integer min-plus is exact
  // arithmetic, so the oracle unrolls the identical three steps and the
  // distance tables hash-match — the weighted generalization of q145's
  // recursion check.
  def q148(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
    val wpairs = pairs.withColumn("w", greatest(lit(1L), lit(6L) - $"supp"))
    val edges = wpairs.select($"pa".as("src"), $"pb".as("dst"), $"w")
      .unionByName(wpairs.select($"pb".as("src"), $"pa".as("dst"), $"w"))
    val seeds = pairs.agg(min($"pa").as("node"))
    graft.operators.Graph.sssp(edges, seeds, rounds = 3).result
      .orderBy($"dist", $"node")
  }
  private def ssspStep(prev: String): String =
    s"""SELECT node, MIN(dist) AS dist FROM (
       |    SELECT node, dist FROM $prev
       |    UNION ALL
       |    SELECT e.dst AS node, p.dist + e.w AS dist
       |    FROM edges e JOIN $prev p ON e.src = p.node) t
       |  GROUP BY node""".stripMargin
  val q148Sql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS supp
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |wp AS (SELECT pa, pb, GREATEST(1, 6 - supp) AS w FROM pairs),
      |edges AS (
      |  SELECT pa AS src, pb AS dst, w FROM wp
      |  UNION ALL SELECT pb, pa, w FROM wp),
      |d0 AS (SELECT MIN(pa) AS node, CAST(0 AS BIGINT) AS dist FROM pairs),
      |d1 AS (${ssspStep("d0")}),
      |d2 AS (${ssspStep("d1")}),
      |d3 AS (${ssspStep("d2")})
      |SELECT node, dist FROM d3 ORDER BY dist, node""".stripMargin

  // --- q185: frequent triples (Apriori level 3) ------------------------------
  // One lattice level above q142's pair rules: 3-itemsets by exact
  // order-cooccurrence support, top-20 by (supp desc, keys). The triple
  // enumeration is the within-order 3-way self-join of the STAGED
  // incidence list (operators.CoPurchase) — per-order fan-out is
  // C(items, 3) ≤ C(17, 3), bounded, so the candidate volume is
  // orders-linear with a constant factor, never combinatorial in the
  // catalog. Exact integer supports end-to-end; TakeOrderedAndProject.
  def q185(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val op = graft.operators.CoPurchase.orderParts(s, d)
    op.as("a")
      .join(op.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .join(op.as("c"), $"b.o" === $"c.o" && $"b.p" < $"c.p")
      .groupBy($"a.p".as("pa"), $"b.p".as("pb"), $"c.p".as("pc"))
      .agg(count(lit(1)).as("supp"))
      .orderBy($"supp".desc, $"pa", $"pb", $"pc")
      .limit(20)
  }
  val q185Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
      |SELECT a.p AS pa, b.p AS pb, c.p AS pc,
      |  CAST(COUNT(*) AS BIGINT) AS supp
      |FROM op a
      |JOIN op b ON a.o = b.o AND a.p < b.p
      |JOIN op c ON b.o = c.o AND b.p < c.p
      |GROUP BY 1, 2, 3
      |ORDER BY supp DESC, pa, pb, pc
      |LIMIT 20""".stripMargin

  // --- q167: PageRank with dangling nodes (directed citation-style graph) --
  // q143's graph is bidirected by construction, so every correction term
  // in the operator is zero there; this query runs the SAME operator on
  // the DIRECTED pair graph (pa→pb only, supp≥2) where dangling structure
  // is guaranteed: the globally largest part in any pair is always a pb
  // (a sink — out-degree 0) and the smallest is always a pa (no
  // in-edges). Sink mass d9 = Σ pr9 over sinks is an exact integer sum
  // redistributed as round(0.85·d9/|V|) per round — the standard Brin &
  // Page correction on the 1e-9 grid — and no-in-edge nodes coalesce
  // their contribution to 0 instead of dropping out. The oracle restates
  // both dangling-aware iterations verbatim; a hash match proves the
  // correction itself is engine-exact, not just the sink-free special
  // case. Shape: per round one src-keyed join + one dst-keyed agg + a
  // one-row broadcast dangling total — no extra node-sized shuffle.
  def q167(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
    val edges = pairs.select($"pa".as("src"), $"pb".as("dst"))
    graft.operators.Graph.pageRank(edges, iters = 2)
      .select($"node".as("part"), $"deg",
        ($"pr9".cast("double") / 1e9).as("pagerank"), $"pr9")
      .orderBy($"pr9".desc, $"part")
      .limit(20)
      .drop("pr9")
  }
  private def prDangStep(prev: String): String =
    s"""SELECT n.node, n.deg,
       |    CAST(round(CAST(0.15 AS DOUBLE) * 1e9 / v) AS BIGINT)
       |    + CAST(round(CAST(0.85 AS DOUBLE) * d9 / v) AS BIGINT)
       |    + COALESCE(s9, 0) AS pr9
       |  FROM nodes n
       |  LEFT JOIN (
       |    SELECT e.dst,
       |      CAST(SUM(CAST(round(CAST(0.85 AS DOUBLE) * p.pr9 / p.deg)
       |        AS BIGINT)) AS BIGINT) AS s9
       |    FROM edges e JOIN $prev p ON e.src = p.node GROUP BY e.dst
       |  ) s ON n.node = s.dst
       |  CROSS JOIN nv
       |  CROSS JOIN (SELECT CAST(COALESCE(SUM(pr9), 0) AS BIGINT) AS d9
       |              FROM $prev WHERE deg = 0) dang""".stripMargin
  val q167Sql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS (SELECT pa AS src, pb AS dst FROM pairs),
      |outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
      |           FROM edges GROUP BY src),
      |nodes AS (
      |  SELECT n.node, COALESCE(o.deg, 0) AS deg
      |  FROM (SELECT src AS node FROM edges
      |        UNION SELECT dst FROM edges) n
      |  LEFT JOIN outdeg o ON n.node = o.src),
      |nv AS (SELECT COUNT(*) AS v FROM nodes),
      |p0 AS (
      |  SELECT node, deg, CAST(round(1e9 / v) AS BIGINT) AS pr9
      |  FROM nodes CROSS JOIN nv),
      |p1 AS (${prDangStep("p0")}),
      |p2 AS (${prDangStep("p1")})
      |SELECT node AS part, deg, CAST(pr9 AS DOUBLE) / 1e9 AS pagerank
      |FROM p2
      |ORDER BY pr9 DESC, part
      |LIMIT 20""".stripMargin

  // --- q284: association rules (support / confidence / lift) ---------------
  // The classical market-basket layer (Agrawal & Srikant 1994) over the
  // staged co-purchase pairs: per item pair, support (share of baskets
  // containing both), directional confidences P(b|a), P(a|b), and lift —
  // the independence ratio N·c(ab)/(c(a)·c(b)) that separates "popular
  // items co-occur by chance" from real affinity. Everything is integral:
  // ppm values go through decimal(38,0)/HUGEINT products and ONE `div`
  // (verified this session: Spark's decimal div == DuckDB's `//` at
  // int128 scale), so no float threshold or 2^53 product can diverge.
  // Shape: pair counts come from the skew-routed staged layout
  // (CoPurchase.pairs — no fresh all-pairs work); item counts and the
  // basket total are one distinct-aggregation each; the rule table then
  // joins at pair scale.
  def q284(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val op = Tables.lineitem(s, d)
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      .persistTracked() // two consumers: item counts + basket total
    val item = op.groupBy($"p").agg(count(lit(1)).as("cnt"))
    val nn = op.agg(countDistinct($"o").as("n"))
    graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
      .select($"pa", $"pb", $"supp".as("cab"))
      .join(item.select($"p".as("pa"), $"cnt".as("ca")), "pa")
      .join(item.select($"p".as("pb"), $"cnt".as("cb")), "pb")
      .crossJoin(broadcast(nn)) // one row
      .select($"pa", $"pb", $"cab", $"ca", $"cb",
        expr("cast(cab as decimal(38,0)) * 1000000 div n").cast("long")
          .as("support_ppm"),
        expr("cast(cab as decimal(38,0)) * 1000000 div ca").cast("long")
          .as("conf_a2b_ppm"),
        expr("cast(cab as decimal(38,0)) * 1000000 div cb").cast("long")
          .as("conf_b2a_ppm"),
        expr("cast(cab as decimal(38,0)) * n * 1000000" +
          " div (cast(ca as decimal(38,0)) * cb)").cast("long")
          .as("lift_ppm"))
      .orderBy($"lift_ppm".desc, $"pa", $"pb")
      .limit(20)
  }
  val q284Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM op GROUP BY p),
      |nn AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM op),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS cab
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT pa, pb, cab, ia.cnt AS ca, ib.cnt AS cb,
      |  CAST(CAST(cab AS HUGEINT) * 1000000 // n AS BIGINT) AS support_ppm,
      |  CAST(CAST(cab AS HUGEINT) * 1000000 // ia.cnt AS BIGINT) AS conf_a2b_ppm,
      |  CAST(CAST(cab AS HUGEINT) * 1000000 // ib.cnt AS BIGINT) AS conf_b2a_ppm,
      |  CAST(CAST(cab AS HUGEINT) * n * 1000000
      |    // (CAST(ia.cnt AS HUGEINT) * ib.cnt) AS BIGINT) AS lift_ppm
      |FROM pairs
      |JOIN item ia ON ia.p = pa
      |JOIN item ib ON ib.p = pb
      |CROSS JOIN nn
      |ORDER BY lift_ppm DESC, pa, pb
      |LIMIT 20""".stripMargin

  // --- q285: harmonic centrality from a seed set (multi-source BFS) --------
  // The centrality that stays defined on disconnected graphs (Boldi &
  // Vigna 2014 — closeness degenerates there): from the 10 smallest
  // nodes of the bidirected co-purchase graph, 4 rounds of multi-source
  // BFS, then per node H = Σ_seeds 1/dist over reached seeds. Kept EXACT
  // by summing 12/dist (lcm of 1..4 — values 12/6/4/3 are integers), so
  // the only double is one final division by 12. Per round: one
  // frontier-keyed join + one (seed,node) min-dist aggregation —
  // frontier-sized shuffles, eager checkpoints truncating round plans
  // (the q143 discipline). The oracle unrolls the identical 4 rounds.
  def q285(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pr = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
    val edges = pr.select($"pa".as("src"), $"pb".as("dst"))
      .unionByName(pr.select($"pb".as("src"), $"pa".as("dst")))
      .distinct().localCheckpoint(true)
    val seeds = edges.select($"src".as("node")).distinct()
      .orderBy($"node").limit(10)
      .select($"node".as("seed"), $"node", lit(0).as("dist"))
    var reach = seeds.localCheckpoint(true)
    for (k <- 1 to 4) {
      val nxt = reach.filter($"dist" === k - 1)
        .join(edges, $"node" === $"src")
        .select($"seed", $"dst".as("node"), lit(k).as("dist"))
      reach = reach.unionByName(nxt)
        .groupBy($"seed", $"node").agg(min($"dist").as("dist"))
        .localCheckpoint(true)
    }
    reach.filter($"dist" > 0)
      .groupBy($"node")
      .agg(count(lit(1)).as("n_seeds_reached"),
        sum(expr("12 div dist")).as("h12"))
      .select($"node", $"n_seeds_reached", $"h12",
        ($"h12" / lit(12.0)).as("harmonic"))
      .orderBy($"h12".desc, $"node")
      .limit(20)
  }
  val q285Sql: String = {
    def bfsStep(k: Int): String =
      s"""r$k AS MATERIALIZED (
         |  SELECT seed, node, MIN(dist) AS dist FROM (
         |    SELECT seed, node, dist FROM r${k - 1}
         |    UNION ALL
         |    SELECT r.seed, e.dst AS node, $k AS dist
         |    FROM r${k - 1} r JOIN edges e ON r.node = e.src
         |    WHERE r.dist = ${k - 1})
         |  GROUP BY seed, node)""".stripMargin
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS MATERIALIZED (
      |  SELECT pa AS src, pb AS dst FROM pairs
      |  UNION SELECT pb, pa FROM pairs),
      |seeds AS (
      |  SELECT node FROM (SELECT DISTINCT src AS node FROM edges)
      |  ORDER BY node LIMIT 10),
      |r0 AS (SELECT node AS seed, node, 0 AS dist FROM seeds),
      |${(1 to 4).map(bfsStep).mkString(",\n")}
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_seeds_reached,
      |  CAST(SUM(12 // dist) AS BIGINT) AS h12,
      |  CAST(SUM(12 // dist) AS BIGINT) / 12.0 AS harmonic
      |FROM r4 WHERE dist > 0
      |GROUP BY node
      |ORDER BY h12 DESC, node
      |LIMIT 20""".stripMargin
  }

  // --- q169: 2-core extraction (iterative degree peeling) ------------------
  // Seidman's k-core as a declarative fixpoint (operators.Graph.kCore):
  // drop degree-<2 nodes, recompute, repeat — the density filter that
  // strips pendant trees before community/cycle analysis. The oracle
  // unrolls EIGHT peel rounds (measured convergence: ≤6 rounds at every
  // test SF; peeling is idempotent past the fixpoint, so extra unrolled
  // rounds are provably no-ops) and the engine iterates to the true
  // fixpoint with convergence ASSERTED — if data drift ever needed more
  // than the unrolled budget the query throws loudly (the clusterPairs
  // precedent) instead of hash-mismatching. Exact integer degrees
  // end-to-end; one Spark job per peel round over a src-partitioned edge
  // table, no edge shuffle while the drop set fits a broadcast.
  def q169(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
      .select($"pa".as("a"), $"pb".as("b"))
    val fx = graft.operators.Graph.kCore(pairs, k = 2, maxRounds = 8)
    if (!fx.converged) throw new IllegalStateException(
      s"2-core peeling did not converge within 8 rounds (oracle unrolls 8)")
    fx.result.orderBy($"node")
  }
  private def peelStep(prev: String): String =
    s"""SELECT e.src, e.dst FROM $prev e
       |  JOIN (SELECT src FROM $prev GROUP BY src HAVING COUNT(*) >= 2) ka
       |    ON e.src = ka.src
       |  JOIN (SELECT src FROM $prev GROUP BY src HAVING COUNT(*) >= 2) kb
       |    ON e.dst = kb.src""".stripMargin
  val q169Sql: String = {
    // MATERIALIZED per step: each peel round references its predecessor
    // three times — without the hints DuckDB re-inlines the whole chain
    // into every reference (8 rounds deep) and exhausts file handles on
    // the repeated base-table scans (the q82 lesson)
    val steps = (1 to 8).map(i => s"e$i AS MATERIALIZED (${peelStep(s"e${i - 1}")})")
      .mkString(",\n")
    s"""WITH op AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS MATERIALIZED (
      |  SELECT a.p AS pa, b.p AS pb
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e0 AS MATERIALIZED (
      |  SELECT pa AS src, pb AS dst FROM pairs
      |  UNION ALL SELECT pb, pa FROM pairs),
      |$steps
      |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
      |FROM e8 GROUP BY src
      |ORDER BY node""".stripMargin
  }

  // --- q170: connected components + component sizes -------------------------
  // operators.Graph.connectedComponents (the q82 distributed union-find
  // generalized to the graph family) over the supp≥2 co-purchase graph,
  // rolled up to the component-size census — the first question asked of
  // any entity-resolution or community graph. Component = min node id
  // (exact integer min-label), size = exact count; the oracle states the
  // same closure as a recursive CTE (feasible because Σ|component|² stays
  // bounded at the test SFs) and must produce the identical census.
  def q170(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
      .select($"pa".as("a"), $"pb".as("b"))
    graft.operators.Graph.connectedComponents(pairs)
      .groupBy($"component").agg(count(lit(1)).as("size"))
      .orderBy($"size".desc, $"component")
      .limit(20)
  }
  val q170Sql: String =
    """WITH RECURSIVE op AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS MATERIALIZED (
      |  SELECT a.p AS pa, b.p AS pb
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS MATERIALIZED (
      |  SELECT pa AS src, pb AS dst FROM pairs
      |  UNION ALL SELECT pb, pa FROM pairs),
      |reach AS (
      |  SELECT src AS node, dst AS r FROM edges
      |  UNION
      |  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
      |),
      |comp AS (
      |  SELECT node, LEAST(node, MIN(r)) AS component
      |  FROM reach GROUP BY node)
      |SELECT component, CAST(COUNT(*) AS BIGINT) AS size
      |FROM comp GROUP BY component
      |ORDER BY size DESC, component
      |LIMIT 20""".stripMargin

  // --- q171: local clustering coefficient (triangles over wedges) ----------
  // Watts & Strogatz 1998's per-node transitivity: cc(n) =
  // 2·tri(n)/(deg(n)·(deg(n)−1)) — how close a node's neighborhood is to
  // a clique, the standard community-structure score. Composes q147's
  // degree-ordered triangle counter with the exact degree table
  // (triangle-free nodes coalesce to 0). 2·tri(n) and deg·(deg−1) are
  // exact integers but BOTH scale as deg² — past ~9.5e7 neighbors they
  // cross 2^53, where a long·long product can overflow and int→double
  // conversion carries the cross-engine wobble q154 documents — so each
  // factor is cast to decimal(38,0)/HUGEINT before multiplying and the
  // cc ratio (∈ [0,1]) is snapped once to the 1e-9 grid on both sides.
  // Top-20 by (cc desc, node) among degree-≥2 nodes,
  // TakeOrderedAndProject.
  def q171(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
      .select($"pa".as("a"), $"pb".as("b"))
    val deg = pairs.select($"a".as("node"))
      .unionByName(pairs.select($"b".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val tri = graft.operators.Graph.triangleCounts(pairs)
    deg.filter($"deg" >= 2)
      .join(tri, Seq("node"), "left")
      .select($"node", $"deg",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"),
        (round((coalesce($"n_triangles", lit(0L)).cast("decimal(38,0)") * 2)
            .cast("double") /
          ($"deg".cast("decimal(38,0)") * ($"deg" - 1).cast("decimal(38,0)"))
            .cast("double") * 1e9)
          .cast("long").cast("double") / 1e9).as("clustering_coeff"))
      .orderBy($"clustering_coeff".desc, $"node")
      .limit(20)
  }
  val q171Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |p AS (
      |  SELECT a.p AS a, b.p AS b
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      |    SELECT a AS node FROM p UNION ALL SELECT b FROM p)
      |  GROUP BY node),
      |tri AS (
      |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
      |  FROM p e1
      |  JOIN p e2 ON e2.a = e1.b
      |  JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tcnt AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
      |    SELECT unnest(list_value(ta, tb, tc)) AS node FROM tri)
      |  GROUP BY node)
      |SELECT d.node, d.deg,
      |  COALESCE(t.n_triangles, 0) AS n_triangles,
      |  CAST(CAST(round(CAST(CAST(COALESCE(t.n_triangles, 0) AS HUGEINT) * 2 AS DOUBLE)
      |    / CAST(CAST(d.deg AS HUGEINT) * (d.deg - 1) AS DOUBLE) * 1e9)
      |    AS BIGINT) AS DOUBLE) / 1e9 AS clustering_coeff
      |FROM deg d LEFT JOIN tcnt t ON d.node = t.node
      |WHERE d.deg >= 2
      |ORDER BY clustering_coeff DESC, d.node
      |LIMIT 20""".stripMargin

  // --- q153: A/B contingency test (chi-square independence, exact grid) ---
  // The experimentation primitive: users split into two arms by a
  // deterministic assignment hash (parity of user_id here), outcome =
  // whether the user ever made a high-value purchase (> 150 — chosen so
  // all four cells are populated at every test SF; "ever purchased" is
  // degenerate here, every user buys eventually). The 2×2 Pearson
  // chi-square N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is a ratio of exact
  // integers — decimal(38,0) in Spark, HUGEINT in DuckDB — so the
  // statistic is two correctly-rounded int→double casts and ONE IEEE
  // division, bit-identical cross-engine (the q60/q117 convention: never
  // let partial-aggregation order touch a float). Shape: one user-keyed
  // rollup collapses events to a user table, one global agg builds the
  // 2×2 — at 100 TB the only event-sized shuffle is the per-user max.
  def q153(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    val users = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase" && $"value" > 150, 1)
        .otherwise(0)).as("conv"))
      .select(($"user_id" % 2).as("arm"), $"conv")
    val cells = users.agg(
      sum(when($"arm" === 0 && $"conv" === 1, 1L).otherwise(0L)).as("a"),
      sum(when($"arm" === 0 && $"conv" === 0, 1L).otherwise(0L)).as("b"),
      sum(when($"arm" === 1 && $"conv" === 1, 1L).otherwise(0L)).as("c"),
      sum(when($"arm" === 1 && $"conv" === 0, 1L).otherwise(0L)).as("d"))
    val diff = $"a".cast(big) * $"d".cast(big) - $"b".cast(big) * $"c".cast(big)
    val n = ($"a" + $"b" + $"c" + $"d").cast(big)
    val den = ($"a" + $"b").cast(big) * ($"c" + $"d").cast(big) *
      ($"a" + $"c").cast(big) * ($"b" + $"d").cast(big)
    cells.select($"a", $"b", $"c", $"d",
      ($"a".cast("double") / ($"a" + $"b")).as("rate_a"),
      ($"c".cast("double") / ($"c" + $"d")).as("rate_b"),
      // degenerate margin (an empty cell row/column) → chi2 undefined;
      // NULL on both sides instead of an ANSI divide-by-zero
      when(den === lit(0).cast(big), lit(null).cast("double"))
        .otherwise((n * diff * diff).cast("double") / den.cast("double"))
        .as("chi2"))
  }
  val q153Sql: String =
    """WITH u AS (
      |  SELECT user_id % 2 AS arm,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id),
      |cells AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM u)
      |SELECT a, b, c, d,
      |  CAST(a AS DOUBLE) / (a + b) AS rate_a,
      |  CAST(c AS DOUBLE) / (c + d) AS rate_b,
      |  CASE WHEN CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d) = 0
      |       THEN NULL
      |       ELSE CAST(CAST(a + b + c + d AS HUGEINT)
      |              * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
      |              * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c) AS DOUBLE)
      |         / CAST(CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d) AS DOUBLE)
      |  END AS chi2
      |FROM cells""".stripMargin

  // --- q154: per-group OLS trend line (regression on the exact grid) ------
  // Least-squares slope/intercept of event value vs time per event type —
  // the trend-detection twin of q60's variance family. With values on the
  // 1e-2 grid and x = seconds since 2024-01-01 (a fixed epoch anchor, so
  // x is data-independent), every OLS sum (Σx, Σy, Σx², Σxy) is an exact
  // integer; slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) and intercept =
  // (ΣyΣx²−ΣxΣxy)/(nΣx²−(Σx)²) are ratios of exact decimal(38,0)/HUGEINT
  // integers. The numerators exceed 2^53, and int→double conversion of
  // such values is NOT correctly rounded in every engine (DuckDB converts
  // int128 as upper·2^64 + lower — two roundings), so the ratio carries a
  // ~1-ulp cross-engine wobble; per the Q.scala convention it is snapped
  // ONCE to the 1e-9 integer grid (wobble ~1e-8 of a grid step — eight
  // orders of margin). One aggregation, one scan — trivially
  // partitionable.
  def q154(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    val anchor = 1704067200L // 2024-01-01T00:00:00Z
    val grid = Tables.events(s, d)
      .select($"event_type",
        (expr("ts div 1000000000") - anchor).as("x"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"))
    val sums = grid.groupBy($"event_type").agg(
      count(lit(1)).as("n"),
      sum($"x".cast(big)).as("sx"),
      sum($"v".cast(big)).as("sy"),
      sum($"x".cast(big) * $"x".cast(big)).as("sxx"),
      sum($"x".cast(big) * $"v".cast(big)).as("sxy"))
    val den = $"n".cast(big) * $"sxx" - $"sx" * $"sx"
    val slopeNum = $"n".cast(big) * $"sxy" - $"sx" * $"sy"
    val icptNum = $"sy" * $"sxx" - $"sx" * $"sxy"
    def grid9(c: org.apache.spark.sql.Column) =
      round(c * 1e9).cast("long").cast("double") / 1e9
    // degenerate x spread (a single event, or all events at one second)
    // makes den exactly 0 → slope undefined; NULL on both sides instead
    // of an ANSI divide-by-zero / NaN-cast error (the q153/q160 rule)
    sums.select($"event_type", $"n",
      when(den === lit(0).cast(big), lit(null).cast("double"))
        .otherwise(grid9(slopeNum.cast("double") / den.cast("double") * 864))
        .as("slope_per_day"),
      when(den === lit(0).cast(big), lit(null).cast("double"))
        .otherwise(grid9(icptNum.cast("double") / den.cast("double") / 100))
        .as("intercept"))
      .orderBy($"event_type")
  }
  val q154Sql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    CAST(epoch_us(ts) // 1000000 - 1704067200 AS BIGINT) AS x,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |s AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(v AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * v) AS sxy
      |  FROM g GROUP BY 1)
      |SELECT event_type, n,
      |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |       ELSE CAST(CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
      |         / CAST(n * sxx - sx * sx AS DOUBLE) * 864 * 1e9) AS BIGINT)
      |         AS DOUBLE) / 1e9
      |  END AS slope_per_day,
      |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |       ELSE CAST(CAST(round(CAST(sy * sxx - sx * sxy AS DOUBLE)
      |         / CAST(n * sxx - sx * sx AS DOUBLE) / 100 * 1e9) AS BIGINT)
      |         AS DOUBLE) / 1e9
      |  END AS intercept
      |FROM s
      |ORDER BY event_type""".stripMargin



  // --- q160: CUPED variance reduction (pre-period covariate adjustment) ---
  // The standard follow-up to q153's chi-square: adjust each user's
  // experiment-period metric Y by their PRE-period covariate X,
  // Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X) pooled over all users —
  // CUPED (Deng et al. 2013) removes the variance X explains, tightening
  // the A/B comparison without biasing it (E[X] is arm-independent under
  // random assignment). θ's numerator/denominator are the q154 OLS sums —
  // exact decimal(38,0)/HUGEINT integers over the 1e-2 value grid — and
  // θ, the per-arm means, and the global mean are each snapped ONCE to
  // the 1e-9 grid; the final adjustment is then a fixed three-op IEEE
  // chain on exact grid doubles, bit-identical cross-engine. Shape: one
  // user-keyed rollup (the only event-sized shuffle) + two tiny
  // aggregates; the split date is the corpus midpoint (2024-01-16).
  def q160(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    def grid9(c: org.apache.spark.sql.Column) =
      round(c * 1e9).cast("long").cast("double") / 1e9
    val SPLIT = 19738L // (epoch of 2024-01-16) div 86400
    val users = Tables.events(s, d)
      .select($"user_id", expr("(ts div 1000000000) div 86400").as("day"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("v"))
      .groupBy($"user_id")
      .agg(sum(when($"day" < SPLIT, $"v").otherwise(0L)).as("x"),
        sum(when($"day" >= SPLIT, $"v").otherwise(0L)).as("y"))
      .withColumn("arm", $"user_id" % 2)
    val g = users.agg(count(lit(1)).as("nn"),
      sum($"x".cast(big)).as("gx"), sum($"y".cast(big)).as("gy"),
      sum($"x".cast(big) * $"x".cast(big)).as("gxx"),
      sum($"x".cast(big) * $"y".cast(big)).as("gxy"))
      .select($"nn", $"gx",
        ($"nn".cast(big) * $"gxy" - $"gx" * $"gy").as("tnum"),
        ($"nn".cast(big) * $"gxx" - $"gx" * $"gx").as("tden"))
      .select($"nn", $"gx",
        when($"tden" === lit(0).cast(big), lit(null).cast("double"))
          .otherwise(grid9($"tnum".cast("double") / $"tden".cast("double")))
          .as("theta"),
        grid9($"gx".cast("double") / $"nn" / 100).as("mx_all"))
    val arms = users.groupBy($"arm")
      .agg(count(lit(1)).as("n_users"),
        sum($"x".cast(big)).as("sx"), sum($"y".cast(big)).as("sy"))
    arms.crossJoin(broadcast(g))
      .select($"arm", $"n_users", $"theta",
        grid9($"sy".cast("double") / $"n_users" / 100).as("mean_y"),
        (grid9($"sy".cast("double") / $"n_users" / 100) -
          $"theta" * (grid9($"sx".cast("double") / $"n_users" / 100) - $"mx_all"))
          .as("mean_y_cuped"))
      .orderBy($"arm")
  }
  val q160Sql: String =
    """WITH u AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
      |        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |        ELSE 0 END) AS x,
      |    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
      |        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |        ELSE 0 END) AS y
      |  FROM events GROUP BY user_id),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS nn,
      |    SUM(CAST(x AS HUGEINT)) AS gx, SUM(CAST(y AS HUGEINT)) AS gy,
      |    SUM(CAST(x AS HUGEINT) * x) AS gxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS gxy
      |  FROM u),
      |t AS (
      |  SELECT nn, gx,
      |    CASE WHEN nn * gxx - gx * gx = 0 THEN NULL
      |         ELSE CAST(CAST(round(CAST(nn * gxy - gx * gy AS DOUBLE)
      |                / CAST(nn * gxx - gx * gx AS DOUBLE) * 1e9) AS BIGINT)
      |              AS DOUBLE) / 1e9
      |    END AS theta,
      |    CAST(CAST(round(CAST(gx AS DOUBLE) / nn / 100 * 1e9) AS BIGINT)
      |      AS DOUBLE) / 1e9 AS mx_all
      |  FROM g),
      |a AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy
      |  FROM u GROUP BY arm)
      |SELECT arm, n_users, theta,
      |  CAST(CAST(round(CAST(sy AS DOUBLE) / n_users / 100 * 1e9) AS BIGINT)
      |    AS DOUBLE) / 1e9 AS mean_y,
      |  CAST(CAST(round(CAST(sy AS DOUBLE) / n_users / 100 * 1e9) AS BIGINT)
      |      AS DOUBLE) / 1e9
      |    - theta * (CAST(CAST(round(CAST(sx AS DOUBLE) / n_users / 100 * 1e9)
      |        AS BIGINT) AS DOUBLE) / 1e9 - mx_all) AS mean_y_cuped
      |FROM a CROSS JOIN t
      |ORDER BY arm""".stripMargin


  // --- q166: Wilson confidence intervals for conversion rates -------------
  // The uncertainty report q153's point rates lack: per arm, the 95%
  // Wilson score interval for the conversion rate. sqrt and division are
  // correctly-rounded IEEE ops, so with the SAME literal z and the SAME
  // op order on both sides the whole chain is bit-deterministic; the
  // bounds are still grid-snapped once (belt and suspenders, the q154
  // convention). z enters as the literal 1.96 multiplied in-expression —
  // precomputing 3.8416 would be a DIFFERENT double than 1.96*1.96.
  // Shape: the q153 user rollup (one event-sized shuffle) + a two-row agg.
  def q166(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def grid9(c: org.apache.spark.sql.Column) =
      round(c * 1e9).cast("long").cast("double") / 1e9
    val users = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase" && $"value" > 150, 1)
        .otherwise(0)).as("conv"))
      .select(($"user_id" % 2).as("arm"), $"conv")
    val arms = users.groupBy($"arm")
      .agg(count(lit(1)).as("n"), sum($"conv").cast("long").as("c"))
    val z = lit(1.96)
    val nd = $"n".cast("double")
    val p = $"c".cast("double") / nd
    val half = z * sqrt(p * (lit(1.0) - p) / nd + z * z / (lit(4.0) * nd * nd))
    val center = p + z * z / (lit(2.0) * nd)
    val denom = lit(1.0) + z * z / nd
    arms.select($"arm", $"n", $"c",
        grid9(p).as("rate"),
        grid9((center - half) / denom).as("wilson_lo"),
        grid9((center + half) / denom).as("wilson_hi"))
      .orderBy($"arm")
  }
  val q166Sql: String =
    """WITH u AS (
      |  SELECT user_id % 2 AS arm,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(conv) AS BIGINT) AS c
      |  FROM u GROUP BY arm),
      |f AS (
      |  SELECT arm, n, c,
      |    CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |    CAST(n AS DOUBLE) AS nd
      |  FROM a)
      |SELECT arm, n, c,
      |  CAST(CAST(round(p * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS rate,
      |  CAST(CAST(round(
      |    ((p + 1.96 * 1.96 / (2.0 * nd))
      |     - 1.96 * sqrt(p * (1.0 - p) / nd + 1.96 * 1.96 / (4.0 * nd * nd)))
      |    / (1.0 + 1.96 * 1.96 / nd) * 1e9) AS BIGINT) AS DOUBLE) / 1e9
      |    AS wilson_lo,
      |  CAST(CAST(round(
      |    ((p + 1.96 * 1.96 / (2.0 * nd))
      |     + 1.96 * sqrt(p * (1.0 - p) / nd + 1.96 * 1.96 / (4.0 * nd * nd)))
      |    / (1.0 + 1.96 * 1.96 / nd) * 1e9) AS BIGINT) AS DOUBLE) / 1e9
      |    AS wilson_hi
      |FROM f
      |ORDER BY arm""".stripMargin

  // --- q195: incremental co-purchase maintenance (IVM for the graph) -------
  // The derived pair table under the same versioned-merge discipline the
  // hourly rollup has (q110 inserts, q173 retractions): the order
  // history arrives as a base load, an INSERT batch of new whole orders,
  // and a DELETE batch of purged orders, each contributing signed
  // C(parts, 2) pair partials (CoPurchase.pairPartials) through three
  // Rollup.mergeInto commits — exact integer sums, pairs netting to
  // zero dropped, versions pruned. The oracle recomputes the pair table
  // from scratch over the post-change order set, so any IVM error — a
  // lost partial, a wrong sign, a tombstone row — hash-misses. The
  // staged artifact is content-fingerprinted (Stage.derived), and the
  // merge sequence touches pair-table + batch-sized data only, never
  // the history: the q173 asymmetry delivered to the graph family.
  def q195(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val staged = graft.Stage.derived("copurchase_ivm", d) { p =>
      val li = Tables.lineitem(s, d)
      val tp = s"$p/pairs_table"
      val roll = graft.streaming.Rollup
      val cp = graft.operators.CoPurchase
      roll.mergeInto(s, cp.pairPartials(li.filter($"l_orderkey" % 97 =!= 0), 1),
        tp, Seq("pa", "pb"), 0L)
      roll.mergeInto(s, cp.pairPartials(li.filter($"l_orderkey" % 97 === 0), 1),
        tp, Seq("pa", "pb"), 1L)
      roll.mergeInto(s, cp.pairPartials(li.filter($"l_orderkey" % 89 === 1), -1),
        tp, Seq("pa", "pb"), 2L, dropEmptied = true)
      ()
    }
    graft.streaming.Rollup.readRollup(s, s"$staged/pairs_table")
      .select($"pa", $"pb", $"supp")
      .orderBy($"supp".desc, $"pa", $"pb")
      .limit(50)
  }
  val q195Sql: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      |  WHERE l_orderkey % 89 <> 1)
      |SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS supp
      |FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |GROUP BY 1, 2
      |ORDER BY supp DESC, pa, pb
      |LIMIT 50""".stripMargin

  // --- q196: label propagation communities (deterministic LPA) -------------
  // Raghavan et al. 2007 over the supp-weighted co-purchase graph — the
  // community structure behind "customers who buy X also buy…" families.
  // Graph.labelPropagation's determinism contract (synchronous sweep,
  // exact integer weight sums, min-label tie-break) is what makes the
  // oracle possible at all: four unrolled rounds restate as four chained
  // argmax CTEs and the final community roster hashes bit-identically.
  // Output: top-30 communities by (size desc, community id), with member
  // extremes so a single misassigned node shows. Shape per round: edge
  // join + (dst,label) agg + dst argmax — the pageRank two-shuffle form;
  // the report is label-cardinality-sized.
  def q196(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
    val edges = pairs.select($"pa".as("src"), $"pb".as("dst"), $"supp".as("w"))
      .unionByName(pairs.select($"pb".as("src"), $"pa".as("dst"), $"supp".as("w")))
    graft.operators.Graph.labelPropagation(edges, iters = 4)
      .groupBy($"label".as("community"))
      .agg(count(lit(1)).as("n_members"),
        min($"node").as("min_member"), max($"node").as("max_member"))
      .orderBy($"n_members".desc, $"community")
      .limit(30)
  }
  private def lpStep(prev: String): String =
    s"""SELECT dst AS node, label FROM (
       |    SELECT e.dst, l.label,
       |      ROW_NUMBER() OVER (PARTITION BY e.dst
       |        ORDER BY SUM(e.w) DESC, l.label) AS rn
       |    FROM edges e JOIN $prev l ON e.src = l.node
       |    GROUP BY e.dst, l.label) WHERE rn = 1""".stripMargin
  val q196Sql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS MATERIALIZED (
      |  SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS supp
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS MATERIALIZED (
      |  SELECT pa AS src, pb AS dst, supp AS w FROM pairs
      |  UNION ALL SELECT pb, pa, supp FROM pairs),
      |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
      |l1 AS (${lpStep("l0")}),
      |l2 AS (${lpStep("l1")}),
      |l3 AS (${lpStep("l2")}),
      |l4 AS (${lpStep("l3")})
      |SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
      |  MIN(node) AS min_member, MAX(node) AS max_member
      |FROM l4
      |GROUP BY 1
      |ORDER BY n_members DESC, community
      |LIMIT 30""".stripMargin

  // --- q199: personalized PageRank from a seed set --------------------------
  // "Related parts for THIS catalog slice": Graph.personalizedPageRank on
  // the bidirected co-purchase graph with seeds = parts ≡ 3 (mod 10), two
  // unrolled grid rounds. All restart mass returns to the seeds, so rank
  // decays with distance — after two rounds only the 2-hop neighborhood
  // holds mass, and the report keeps ranked (pr9 > 0) nodes only. The
  // graph is bidirected, so the operator's dangling term is exactly 0
  // (q143's argument) and the oracle restates the seeded teleport + two
  // contribution rounds without it; the dangling path itself is
  // oracle-proven by q167. Per round: one src join + one dst agg, the
  // pageRank shape — personalization adds no extra shuffle.
  def q199(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
    val edges = pairs.select($"pa".as("src"), $"pb".as("dst"))
      .unionByName(pairs.select($"pb".as("src"), $"pa".as("dst")))
    val seeds = edges.select($"src".as("node")).distinct()
      .filter($"node" % 10 === 3)
    graft.operators.Graph.personalizedPageRank(edges, seeds, iters = 2)
      .filter($"pr9" > 0)
      .select($"node".as("part"), $"deg", $"is_seed",
        ($"pr9".cast("double") / 1e9).as("ppr"), $"pr9")
      .orderBy($"pr9".desc, $"part")
      .limit(20)
      .drop("pr9")
  }
  val q199Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS (
      |  SELECT pa AS src, pb AS dst FROM pairs
      |  UNION ALL SELECT pb, pa FROM pairs),
      |nodes AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |          FROM edges GROUP BY src),
      |ns AS (SELECT COUNT(*) AS s FROM nodes WHERE node % 10 = 3),
      |p0 AS (
      |  SELECT node, deg,
      |    CASE WHEN node % 10 = 3 THEN 1 ELSE 0 END AS is_seed,
      |    CASE WHEN node % 10 = 3 THEN CAST(round(1e9 / s) AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END AS pr9
      |  FROM nodes CROSS JOIN ns),
      |s1 AS (
      |  SELECT e.dst,
      |    CAST(SUM(CAST(round(CAST(0.85 AS DOUBLE) * p.pr9 / p.deg) AS BIGINT)) AS BIGINT) AS s9
      |  FROM edges e JOIN p0 p ON e.src = p.node GROUP BY e.dst),
      |p1 AS (
      |  SELECT n.node, n.deg,
      |    CASE WHEN n.node % 10 = 3 THEN 1 ELSE 0 END AS is_seed,
      |    CASE WHEN n.node % 10 = 3
      |         THEN CAST(round(CAST(0.15 AS DOUBLE) * 1e9 / s) AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END + COALESCE(s9, 0) AS pr9
      |  FROM nodes n LEFT JOIN s1 ON n.node = s1.dst CROSS JOIN ns),
      |s2 AS (
      |  SELECT e.dst,
      |    CAST(SUM(CAST(round(CAST(0.85 AS DOUBLE) * p.pr9 / p.deg) AS BIGINT)) AS BIGINT) AS s9
      |  FROM edges e JOIN p1 p ON e.src = p.node GROUP BY e.dst),
      |p2 AS (
      |  SELECT n.node, n.deg,
      |    CASE WHEN n.node % 10 = 3 THEN 1 ELSE 0 END AS is_seed,
      |    CASE WHEN n.node % 10 = 3
      |         THEN CAST(round(CAST(0.15 AS DOUBLE) * 1e9 / s) AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END + COALESCE(s9, 0) AS pr9
      |  FROM nodes n LEFT JOIN s2 ON n.node = s2.dst CROSS JOIN ns)
      |SELECT node AS part, deg, CAST(is_seed AS BIGINT) AS is_seed,
      |  CAST(pr9 AS DOUBLE) / 1e9 AS ppr
      |FROM p2 WHERE pr9 > 0
      |ORDER BY pr9 DESC, part
      |LIMIT 20""".stripMargin

  // --- q200: HITS hubs and authorities (directed co-purchase) ---------------
  // Kleinberg 1999 on the DIRECTED pa→pb pair graph (q167's orientation,
  // where hub and authority structure actually differ): two unnormalized
  // integer rounds — a ← Σ h(in), h ← Σ a(out) under decimal/HUGEINT
  // sums — then ONE presentation-time normalization to max-relative
  // ratios snapped on the 1e-9 grid. Skipping per-round normalization is
  // what keeps the fixpoint engine-exact (HITS rankings are scale-
  // invariant); ordering uses the EXACT integer authority score, so the
  // snap can never reorder the report. Top-20 by (auth desc, node).
  def q200(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def grid9(c: org.apache.spark.sql.Column) =
      round(c * 1e9).cast("long").cast("double") / 1e9
    val edges = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
      .select($"pa".as("src"), $"pb".as("dst"))
    val ah = graft.operators.Graph.hits(edges, iters = 2)
    val mx = ah.agg(max($"auth").as("ma"), max($"hub").as("mh"))
    ah.crossJoin(broadcast(mx))
      .select($"node",
        grid9($"auth".cast("double") / $"ma".cast("double")).as("auth_ratio"),
        grid9($"hub".cast("double") / $"mh".cast("double")).as("hub_ratio"),
        $"auth")
      .orderBy($"auth".desc, $"node")
      .limit(20)
      .drop("auth")
  }
  private def hitsRound(i: Int, prev: String): String =
    s"""a$i AS (
       |  SELECT e.dst AS node, SUM(h.hub) AS a
       |  FROM edges e JOIN $prev h ON e.src = h.node GROUP BY e.dst),
       |wa$i AS (
       |  SELECT n.node, COALESCE(a.a, 0) AS auth
       |  FROM nodes n LEFT JOIN a$i a ON n.node = a.node),
       |h$i AS (
       |  SELECT e.src AS node, SUM(w.auth) AS h
       |  FROM edges e JOIN wa$i w ON e.dst = w.node GROUP BY e.src),
       |ah$i AS (
       |  SELECT w.node, w.auth, COALESCE(h.h, 0) AS hub
       |  FROM wa$i w LEFT JOIN h$i h ON w.node = h.node)""".stripMargin
  val q200Sql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs),
      |nodes AS MATERIALIZED (
      |  SELECT DISTINCT node FROM (
      |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      |ah0 AS (
      |  SELECT node, CAST(1 AS HUGEINT) AS auth, CAST(1 AS HUGEINT) AS hub
      |  FROM nodes),
      |${hitsRound(1, "ah0")},
      |${hitsRound(2, "ah1")},
      |mx AS (SELECT MAX(auth) AS ma, MAX(hub) AS mh FROM ah2)
      |SELECT node,
      |  CAST(CAST(round(CAST(auth AS DOUBLE) / CAST(ma AS DOUBLE) * 1e9) AS BIGINT)
      |    AS DOUBLE) / 1e9 AS auth_ratio,
      |  CAST(CAST(round(CAST(hub AS DOUBLE) / CAST(mh AS DOUBLE) * 1e9) AS BIGINT)
      |    AS DOUBLE) / 1e9 AS hub_ratio
      |FROM ah2 CROSS JOIN mx
      |ORDER BY auth DESC, node
      |LIMIT 20""".stripMargin

  // --- q219: Poisson-bootstrap confidence intervals -------------------------
  // The resampling method that actually works at 100 TB: classic bootstrap
  // resamples (a shuffle per replicate) are replaced by per-row Poisson(1)
  // weights — multinomial(n, 1/n) converges to independent Poisson(1)
  // counts, so R replicates are ONE pass over the data with a replicate
  // multiplier (a map-side explode), no data movement beyond the ordinary
  // group-by. Weights are deterministic: a 56-bit md5 uniform (the q112
  // sampling grid) inverted through the Poisson(1) CDF as literal integer
  // thresholds on the same grid — both engines run the identical CASE, so
  // replicate weights are bit-equal by construction. The tail is capped at
  // w=9 (P ≈ 1.1e-10 per draw, and the cap is applied identically on both
  // sides, so exactness is unconditional). Replicate means use the exact
  // decimal-sum / single-division davg convention; the 2.5%/97.5% CI over
  // the 64 replicate means is interpolated identically (percentile vs
  // quantile_cont, the q212 precedent) and rounded to 6dp.
  /** floor(CDF_Poisson(1)(k) · 2^56), k = 0..8 — the shared deterministic
    * weight grid of q219/q232 (one definition; the bit-equal-weights
    * contract between the two queries depends on it). */
  private val poissonCdf56 = Seq(26508507426831584L, 53017014853663168L,
    66271268567078960L, 70689353138217560L, 71793874281002208L,
    72014778509559136L, 72051595880985288L, 72056855505474736L,
    72057512958535920L)

  /** 56-bit md5 uniform for (o_orderkey, replicate r) — q112's grid. */
  private def bootUniform: org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit("boot|"), col("o_orderkey").cast("string"),
      lit("|"), col("r").cast("string"))), 1, 14), 16, 10).cast("long")

  /** Poisson(1) weight from the `u` column via the shared threshold grid
    * (tail capped at 9 — applied identically on both engines). */
  private def poissonWeight: org.apache.spark.sql.Column =
    poissonCdf56.zipWithIndex.foldRight(lit(9): org.apache.spark.sql.Column) {
      case ((thr, k), rest) => when(col("u") < thr, k).otherwise(rest)
    }

  /** The same grid as DuckDB CASE text (input column `u`). */
  private val poissonCaseSql: String =
    poissonCdf56.zipWithIndex
      .map { case (thr, k) => s"WHEN u < $thr THEN $k" }
      .mkString("CASE ", "\n         ", "\n         ELSE 9 END")

  def q219(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val rep = o.select($"o_orderpriority", $"o_orderkey",
        money($"o_totalprice").as("price"),
        explode(sequence(lit(0), lit(63))).as("r"))
      .withColumn("u", bootUniform)
      .withColumn("wt", poissonWeight.cast("long"))
      .groupBy($"o_orderpriority", $"r")
      .agg((sum($"wt" * $"price").cast("double") / sum($"wt")).as("m"))
    val point = o.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), davg($"o_totalprice").as("mean"))
    point.join(
        rep.groupBy($"o_orderpriority")
          .agg(round(expr("percentile(m, 0.025)"), 6).as("lo95"),
            round(expr("percentile(m, 0.975)"), 6).as("hi95")),
        "o_orderpriority")
      .select($"o_orderpriority", $"n", $"mean", $"lo95", $"hi95")
      .orderBy($"o_orderpriority")
  }
  val q219Sql: String =
    s"""WITH draws AS (
      |  SELECT o_orderpriority, r.r AS r,
      |    CAST(o_totalprice AS DECIMAL(14,2)) AS price,
      |    ('0x' || substr(md5('boot|' || CAST(o_orderkey AS VARCHAR) || '|'
      |      || CAST(r.r AS VARCHAR)), 1, 14))::BIGINT AS u
      |  FROM orders CROSS JOIN (SELECT UNNEST(range(64)) AS r) r),
      |weighted AS (
      |  SELECT o_orderpriority, r, price,
      |    $poissonCaseSql AS wt
      |  FROM draws),
      |rep AS (
      |  SELECT o_orderpriority, r,
      |    CAST(SUM(wt * price) AS DOUBLE) / CAST(SUM(wt) AS BIGINT) AS m
      |  FROM weighted GROUP BY 1, 2),
      |ci AS (
      |  SELECT o_orderpriority,
      |    ROUND(quantile_cont(m, 0.025), 6) AS lo95,
      |    ROUND(quantile_cont(m, 0.975), 6) AS hi95
      |  FROM rep GROUP BY 1),
      |pt AS (
      |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean
      |  FROM orders GROUP BY 1)
      |SELECT pt.o_orderpriority, pt.n, pt.mean, ci.lo95, ci.hi95
      |FROM pt JOIN ci USING (o_orderpriority)
      |ORDER BY pt.o_orderpriority""".stripMargin

  // --- q220: Mann-Whitney U rank-sum test -----------------------------------
  // The nonparametric A/B complement to the parametric family (q153
  // chi-square, q160 CUPED, q217 KS): does one group's value distribution
  // stochastically dominate the other's, without normality assumptions?
  // Urgent vs low-priority order totals. Everything stays on exact
  // integer grids until the final z: prices as cents (exact from the
  // 2-decimal money grid), average ranks in DOUBLED units
  // (2·avgrank = 2·C(v) − cnt(v) + 1 for a value v with cumulative count
  // C(v) — an integer), the tie correction Σ(t³−t) as int64. The
  // cumulative count uses the q49/EquiDepth two-phase sliced-prefix shape
  // (64 integer-arithmetic slices, per-slice window + tiny offset table)
  // instead of a single global-sort window — the distinct-value domain is
  // what gets windowed, and even that is sliced. The one-row z computation
  // is shared SQL text between engines; int64 is ample at test SFs and
  // the 2^53-crossing products (S2R ~ n², T ~ n³ at corpus scale) would
  // take the q154 decimal(38,0) route before the final double.
  def q220(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val slices = 64
    val ab = Tables.orders(s, d)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .select(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L).as("is_a"),
        (money($"o_totalprice") * 100).cast("long").as("cents"))
    val byV = ab.groupBy($"cents")
      .agg(count(lit(1)).as("c"), sum($"is_a").as("ca"))
    val bounds = byV.agg(min($"cents").as("lo"), max($"cents").as("hi"))
    val sliced = byV.crossJoin(broadcast(bounds)) // one-row bound
      .withColumn("slice", when($"hi" === $"lo", lit(0L)).otherwise(
        ($"cents" - $"lo") * slices / ($"hi" - $"lo" + 1)).cast("int"))
    val wLocal = Window.partitionBy($"slice").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wSlices = Window.orderBy($"slice")
      .rowsBetween(Window.unboundedPreceding, 0)
    val offsets = sliced.groupBy($"slice").agg(sum($"c").as("st"))
      .withColumn("off", sum($"st").over(wSlices) - $"st")
      .select($"slice", $"off")
    val terms = sliced
      .withColumn("lc", sum($"c").over(wLocal))
      .join(broadcast(offsets), "slice")
      .withColumn("cum", $"off" + $"lc")
      .agg(sum($"ca" * (lit(2) * $"cum" - $"c" + 1)).as("s2r"),
        sum($"c" * $"c" * $"c" - $"c").as("t3"),
        sum($"ca").as("na"), sum($"c").as("n"))
    terms.selectExpr("na AS n_a", "n - na AS n_b",
        "CAST(s2r - na * (na + 1) AS DOUBLE) / 2 AS u_stat",
        """ROUND((CAST(s2r - na * (na + 1) - na * (n - na) AS DOUBLE) / 2)
          | / sqrt((CAST(na * (n - na) AS DOUBLE) / 12)
          |   * (CAST(n + 1 AS DOUBLE)
          |      - CAST(t3 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))),
          | 6) AS z""".stripMargin.replace("\n", " "))
  }
  val q220Sql: String =
    """WITH ab AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |byv AS (
      |  SELECT cents, CAST(COUNT(*) AS BIGINT) AS c,
      |    CAST(SUM(is_a) AS BIGINT) AS ca
      |  FROM ab GROUP BY 1),
      |cum AS (
      |  SELECT c, ca,
      |    SUM(c) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM byv),
      |terms AS (
      |  SELECT CAST(SUM(ca * (2 * cum - c + 1)) AS BIGINT) AS s2r,
      |    CAST(SUM(c * c * c - c) AS BIGINT) AS t3,
      |    CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(c) AS BIGINT) AS n
      |  FROM cum)
      |SELECT na AS n_a, n - na AS n_b,
      |  CAST(s2r - na * (na + 1) AS DOUBLE) / 2 AS u_stat,
      |  ROUND((CAST(s2r - na * (na + 1) - na * (n - na) AS DOUBLE) / 2)
      |   / sqrt((CAST(na * (n - na) AS DOUBLE) / 12)
      |     * (CAST(n + 1 AS DOUBLE)
      |        - CAST(t3 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))),
      |   6) AS z
      |FROM terms""".stripMargin

  // --- q221: Adamic-Adar link prediction ------------------------------------
  // "Which items SHOULD be co-purchased but aren't yet?" — the classic
  // link-prediction score over the staged co-purchase graph: for every
  // non-adjacent pair sharing neighbors, AA(x,y) = Σ_z 1/ln(deg z) over
  // common neighbors z, discounting hub-mediated evidence (Adamic & Adar
  // 2003). Candidates come from the wedge join (adjacency ⋈ adjacency on
  // the center, x < y) — the q147/q171 triangle shape, bounded by
  // Σ deg(z)² on the minSupp-thresholded graph — minus existing edges via
  // an anti join. Per-center contributions snap to the 1e-9 integer grid
  // BEFORE summing (the q106/q111 ln convention), so the cross-engine sum
  // is exact; ranking is on the integer score with (a, b) tie-breaks and
  // the output is TakeOrdered(20), never a global sort.
  def q221(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
      .select($"pa".as("a"), $"pb".as("b"))
    val adj = edges.select($"a".as("z"), $"b".as("nbr"))
      .unionByName(edges.select($"b".as("z"), $"a".as("nbr")))
    val deg = adj.groupBy($"z").agg(count(lit(1)).as("deg"))
    // only deg ≥ 2 nodes can center a wedge — and ln(1) = 0 would trip
    // ANSI division for leaf nodes even though no wedge ever joins them
    val contrib = deg.filter($"deg" >= 2).select($"z",
      round(lit(1e9) / log($"deg")).cast("long").as("aa_e9"))
    val wedges = adj.as("l").join(adj.as("r"),
        $"l.z" === $"r.z" && $"l.nbr" < $"r.nbr")
      .select($"l.nbr".as("a"), $"r.nbr".as("b"), $"l.z".as("z"))
    wedges.join(edges, Seq("a", "b"), "left_anti")
      .join(contrib, "z")
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("n_common"), sum($"aa_e9").as("score_e9"))
      .select($"a", $"b", $"n_common",
        ($"score_e9".cast("double") / 1e9).as("aa_score"))
      .orderBy($"score_e9".desc, $"a", $"b")
      .limit(20)
      .drop("score_e9")
  }
  val q221Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.p AS a, b.p AS b
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |adj AS MATERIALIZED (
      |  SELECT a AS z, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (
      |  SELECT z, CAST(round(1e9 / ln(COUNT(*))) AS BIGINT) AS aa_e9
      |  FROM adj GROUP BY z HAVING COUNT(*) >= 2),
      |wedge AS (
      |  SELECT l.nbr AS a, r.nbr AS b, l.z AS z
      |  FROM adj l JOIN adj r ON l.z = r.z AND l.nbr < r.nbr),
      |cand AS (
      |  SELECT w.a, w.b, w.z FROM wedge w
      |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.b))
      |SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS n_common,
      |  CAST(CAST(SUM(d.aa_e9) AS BIGINT) AS DOUBLE) / 1e9 AS aa_score
      |FROM cand c JOIN deg d ON d.z = c.z
      |GROUP BY c.a, c.b
      |ORDER BY CAST(SUM(d.aa_e9) AS BIGINT) DESC, c.a, c.b
      |LIMIT 20""".stripMargin

  // --- q222: degree assortativity --------------------------------------------
  // One scalar describing the graph's wiring: do high-degree items attach
  // to other high-degree items (r > 0) or to the periphery (r < 0)?
  // Newman 2002's degree-mixing Pearson coefficient over the symmetrized
  // edge list. Everything is integer sums (Σd, Σd², Σ da·db) with the
  // q154 decimal(38,0)-before-multiply rule for the closed-form products
  // (they cross 2^53 at corpus scale); numerator and denominator each
  // cast to double once, one final division. Two shuffles total: the
  // degree aggregation and the one-row sum.
  def q222(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
      .select($"pa".as("a"), $"pb".as("b"))
    val adj = edges.select($"a".as("z"), $"b".as("nbr"))
      .unionByName(edges.select($"b".as("z"), $"a".as("nbr")))
    val deg = adj.groupBy($"z").agg(count(lit(1)).as("deg"))
    val withDeg = adj
      .join(deg.select($"z", $"deg".as("dz")), "z")
      .join(deg.select($"z".as("nbr"), $"deg".as("dn")), "nbr")
    val sums = withDeg.agg(
      count(lit(1)).as("m2"), sum($"dz").as("sx"),
      sum($"dz" * $"dz").as("sxx"), sum($"dz" * $"dn").as("sxy"))
    sums.select(
      (sums("m2") / 2).cast("long").as("n_edges"),
      (($"m2".cast("decimal(38,0)") * $"sxy".cast("decimal(38,0)") -
          $"sx".cast("decimal(38,0)") * $"sx".cast("decimal(38,0)"))
        .cast("double") /
        ($"m2".cast("decimal(38,0)") * $"sxx".cast("decimal(38,0)") -
          $"sx".cast("decimal(38,0)") * $"sx".cast("decimal(38,0)"))
        .cast("double")).as("assortativity"))
  }
  val q222Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.p AS a, b.p AS b
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |adj AS MATERIALIZED (
      |  SELECT a AS z, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY z),
      |wd AS (
      |  SELECT dz.deg AS dz, dn.deg AS dn
      |  FROM adj JOIN deg dz ON dz.z = adj.z JOIN deg dn ON dn.z = adj.nbr),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS m2,
      |    CAST(SUM(dz) AS HUGEINT) AS sx,
      |    CAST(SUM(dz * dz) AS HUGEINT) AS sxx,
      |    CAST(SUM(dz * dn) AS HUGEINT) AS sxy
      |  FROM wd)
      |SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
      |  CAST(m2 * sxy - sx * sx AS DOUBLE)
      |    / CAST(m2 * sxx - sx * sx AS DOUBLE) AS assortativity
      |FROM sums""".stripMargin

  // --- q224: Bradley-Terry preference strengths ------------------------------
  // The pairwise-preference MLE behind reward-model data curation: given
  // "A beat B" comparisons, estimate per-item strengths π via the BT model
  // P(i beats j) = π_i/(π_i+π_j). Comparisons are derived
  // deterministically from the fact table (within an order, the part with
  // the larger exact-decimal quantity beats the smaller; equal quantities
  // are no contest) — the demonstrator convention the suite uses where
  // the reference data has no native labels. Two minorization fixed-point
  // rounds (Hunter 2004: π'_i = W_i / Σ_j n_ij/(π_i+π_j)), unrolled, with
  // every value living on integer grids: wins/games in DOUBLED units with
  // a half-win phantom game per pair (W2 = 2w+1, N2 = 2n+2 — the standard
  // regularization, and it keeps zero-win items off a 0/0), strengths as
  // 1e-9-grid longs, per-opponent terms snapped to the grid BEFORE the
  // sum (q106 convention) so the cross-engine fixed point is bit-equal.
  // Work per round: two strength joins on the vocab-sized symmetric pair
  // table + one item-keyed aggregation — the q143 power-iteration shape.
  def q224(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The comparison pair table is a pay-once derived artifact (the
    // CoPurchase precedent: the order self-join dominated the query at
    // 8+ s; staged, consumers read ~40k-row parquet). minGames=2 is the
    // family's noise floor (q142/q171's minSupp convention): a single
    // co-occurrence is a fluke, not a preference signal, and it bounds
    // the comparison graph the iterations shuffle.
    val staged = graft.Stage.derived("bt_pairs_g2", d) { p =>
      val opq = Tables.lineitem(s, d)
        .groupBy($"l_orderkey".as("o"), $"l_partkey".as("p"))
        .agg(sum($"l_quantity".cast("decimal(18,2)")).as("q"))
      opq.as("a").join(opq.as("b"),
          $"a.o" === $"b.o" && $"a.p" < $"b.p" && $"a.q" =!= $"b.q")
        .select($"a.p".as("pa"), $"b.p".as("pb"),
          when($"a.q" > $"b.q", 1L).otherwise(0L).as("a_wins"))
        .groupBy($"pa", $"pb")
        .agg(count(lit(1)).as("n"), sum($"a_wins").as("wa"))
        .filter($"n" >= 2)
        .write.mode("overwrite").parquet(s"$p/pairs.parquet")
    }
    val pairAgg = s.read.parquet(s"$staged/pairs.parquet")
    // persist: the unrolled iterate(iterate(...)) lineage would otherwise
    // re-run the order self-join + pair aggregation once per downstream
    // branch (~5x; measured 10.1 s -> 2.3 s at sf0.1). LRU-evicted via
    // the CacheLifecycle contract, released by the Verify/Bench harness.
    import graft.CacheLifecycle.TrackedPersistOps
    val sym = pairAgg.select($"pa".as("i"), $"pb".as("j"), $"n", $"wa".as("w"))
      .unionByName(pairAgg.select($"pb".as("i"), $"pa".as("j"), $"n",
        ($"n" - $"wa").as("w")))
      .select($"i", $"j", (lit(2) * $"n" + 2).as("n2"),
        (lit(2) * $"w" + 1).as("w2"), $"n", $"w")
      .persistTracked()
    val items = sym.groupBy($"i")
      .agg(sum($"w2").as("w2t"), sum($"n").as("n_games"), sum($"w").as("n_wins"))
      .persistTracked()
    def iterate(g: DataFrame): DataFrame = {
      val e = sym
        .join(g.select($"i", $"g".as("gi")), "i")
        .join(g.select($"i".as("j"), $"g".as("gj")), "j")
        .withColumn("e", round($"n2".cast("double") * 1e18 /
          ($"gi" + $"gj").cast("double")).cast("long"))
        .groupBy($"i").agg(sum($"e").as("dsum"))
      items.join(e, "i")
        .select($"i", round($"w2t".cast("double") * 1e18 /
          $"dsum".cast("double")).cast("long").as("g"))
        // each round's strengths feed the NEXT round twice (as gi and gj)
        // — uncached, round k's pair-table aggregation would re-run 2^k
        // times through the unrolled lineage (measured 13.7 s; 2.6 s with
        // the vocab-sized round results cached)
        .persistTracked()
    }
    val g0 = items.select($"i", lit(1000000000L).as("g"))
    val g2 = iterate(iterate(g0))
    items.join(g2, "i")
      .select($"i".as("part"), $"n_games", $"n_wins",
        ($"g".cast("double") / 1e9).as("strength"), $"g")
      .orderBy($"g".desc, $"part")
      .limit(20)
      .drop("g")
  }
  val q224Sql: String = {
    def round1(gPrev: String, out: String): String =
      s"""$out AS (
         |  SELECT it.i, CAST(round(CAST(it.w2t AS DOUBLE) * 1e18
         |      / CAST(d.dsum AS DOUBLE)) AS BIGINT) AS g
         |  FROM items it JOIN (
         |    SELECT s.i, CAST(SUM(CAST(round(CAST(s.n2 AS DOUBLE) * 1e18
         |        / CAST(gi.g + gj.g AS DOUBLE)) AS BIGINT)) AS BIGINT) AS dsum
         |    FROM sym s
         |    JOIN $gPrev gi ON gi.i = s.i
         |    JOIN $gPrev gj ON gj.i = s.j
         |    GROUP BY s.i) d ON d.i = it.i)""".stripMargin
    s"""WITH opq AS (
       |  SELECT l_orderkey AS o, l_partkey AS p,
       |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
       |  FROM lineitem GROUP BY 1, 2),
       |comp AS (
       |  SELECT a.p AS pa, b.p AS pb,
       |    CASE WHEN a.q > b.q THEN 1 ELSE 0 END AS a_wins
       |  FROM opq a JOIN opq b ON a.o = b.o AND a.p < b.p AND a.q <> b.q),
       |pairagg AS (
       |  SELECT pa, pb, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(a_wins) AS BIGINT) AS wa
       |  FROM comp GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |sym AS MATERIALIZED (
       |  SELECT i, j, 2 * n + 2 AS n2, 2 * w + 1 AS w2, n, w FROM (
       |    SELECT pa AS i, pb AS j, n, wa AS w FROM pairagg
       |    UNION ALL
       |    SELECT pb, pa, n, n - wa FROM pairagg)),
       |items AS MATERIALIZED (
       |  SELECT i, CAST(SUM(w2) AS BIGINT) AS w2t,
       |    CAST(SUM(n) AS BIGINT) AS n_games, CAST(SUM(w) AS BIGINT) AS n_wins
       |  FROM sym GROUP BY i),
       |g0 AS (SELECT i, CAST(1000000000 AS BIGINT) AS g FROM items),
       |${round1("g0", "g1")},
       |${round1("g1", "g2")}
       |SELECT it.i AS part, it.n_games, it.n_wins,
       |  CAST(g2.g AS DOUBLE) / 1e9 AS strength
       |FROM items it JOIN g2 ON g2.i = it.i
       |ORDER BY g2.g DESC, part
       |LIMIT 20""".stripMargin
  }

  // --- q227: item-item collaborative filtering (cosine over co-occurrence) --
  // The classic recommender scoring (Sarwar 2001 / Linden 2003): treat
  // each item as its order-membership set; similarity = cosine over
  // binary vectors = supp(a,b) / √(n_a·n_b). Unlike q221 (which scores
  // ABSENT edges from shared neighbors), this normalizes EXISTING
  // co-occurrence so popular items don't dominate — the "customers who
  // bought X also bought Y" ranking. All inputs are exact integers from
  // the staged graph; the score is one double division by one
  // correctly-rounded sqrt of an exact ≤2^53 product — deterministic
  // IEEE in both engines, no snapping needed. Top-20 via TakeOrdered on
  // (score, pa, pb).
  def q227(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val itemN = graft.operators.CoPurchase.orderParts(s, d)
      .groupBy($"p").agg(count(lit(1)).as("cnt"))
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
    pairs
      .join(itemN.select($"p".as("pa"), $"cnt".as("na")), "pa")
      .join(itemN.select($"p".as("pb"), $"cnt".as("nb")), "pb")
      .select($"pa", $"pb", $"supp", $"na", $"nb",
        ($"supp".cast("double") / sqrt(($"na" * $"nb").cast("double")))
          .as("cosine"))
      .orderBy($"cosine".desc, $"pa", $"pb")
      .limit(20)
  }
  val q227Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |n AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM op GROUP BY p),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS supp
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT pa, pb, supp, na.cnt AS na, nb.cnt AS nb,
      |  CAST(supp AS DOUBLE) / sqrt(CAST(na.cnt * nb.cnt AS DOUBLE)) AS cosine
      |FROM pairs
      |JOIN n na ON na.p = pairs.pa
      |JOIN n nb ON nb.p = pairs.pb
      |ORDER BY cosine DESC, pa, pb
      |LIMIT 20""".stripMargin

  // --- q229: community modularity (quality score for q196's partition) ------
  // Closes the community-detection loop: label propagation (q196) emits a
  // partition, modularity (Newman & Girvan 2004) scores it —
  // Q = Σ_c [ e_c/2m − (d_c/2m)² ] with edge weights, the standard
  // "better than random wiring" measure a pipeline would monitor across
  // graph refreshes. The whole statistic reduces to exact integers:
  // e_c (internal weight, both directions), d_c (community weighted
  // degree), 2m (total), composed as (2m·Σe_c − Σd_c²)/(2m)² under the
  // q154 decimal(38,0) product rule — ONE double division at the end, no
  // snapping anywhere. Work: the 4 label-propagation rounds (node-keyed
  // shuffles) plus three label-keyed aggregations.
  def q229(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val pairs = graft.operators.CoPurchase.pairs(s, d, minSupp = 2)
    val edges = pairs.select($"pa".as("src"), $"pb".as("dst"), $"supp".as("w"))
      .unionByName(pairs.select($"pb".as("src"), $"pa".as("dst"), $"supp".as("w")))
      .persistTracked() // read by wdeg, both endpoint joins, and the total
    val labels = graft.operators.Graph.labelPropagation(edges, iters = 4)
      .persistTracked() // read by three branches below
    val m2 = edges.agg(sum($"w").as("m2"))
    val dC = edges.groupBy($"src").agg(sum($"w").as("wdeg"))
      .join(labels.select($"node".as("src"), $"label"), "src")
      .groupBy($"label").agg(sum($"wdeg").as("d_c"))
    val eC = edges
      .join(labels.select($"node".as("src"), $"label".as("ls")), "src")
      .join(labels.select($"node".as("dst"), $"label".as("ld")), "dst")
      .filter($"ls" === $"ld")
      .groupBy($"ls").agg(sum($"w").as("e_c"))
    val parts = dC.join(eC, dC("label") === eC("ls"), "left")
      .select($"label", $"d_c", coalesce($"e_c", lit(0L)).as("e_c"))
      .agg(count(lit(1)).as("n_communities"),
        sum($"e_c").as("se"),
        sum($"d_c".cast("decimal(38,0)") * $"d_c".cast("decimal(38,0)"))
          .as("sd2"))
    parts.crossJoin(broadcast(m2)) // one-row bound
      .select($"n_communities", $"m2".as("total_weight_x2"),
        (($"m2".cast("decimal(38,0)") * $"se".cast("decimal(38,0)") - $"sd2")
          .cast("double") /
          ($"m2".cast("decimal(38,0)") * $"m2".cast("decimal(38,0)"))
            .cast("double")).as("modularity"))
  }
  val q229Sql: String = {
    def lpStep(prev: String): String =
      s"""SELECT dst AS node, label FROM (
         |    SELECT e.dst, l.label,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY SUM(e.w) DESC, l.label) AS rn
         |    FROM edges e JOIN $prev l ON e.src = l.node
         |    GROUP BY e.dst, l.label) WHERE rn = 1""".stripMargin
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS MATERIALIZED (
       |  SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS supp
       |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |edges AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst, supp AS w FROM pairs
       |  UNION ALL SELECT pb, pa, supp FROM pairs),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |l1 AS (${lpStep("l0")}),
       |l2 AS (${lpStep("l1")}),
       |l3 AS (${lpStep("l2")}),
       |l4 AS MATERIALIZED (${lpStep("l3")}),
       |m AS (SELECT CAST(SUM(w) AS HUGEINT) AS m2 FROM edges),
       |dc AS (
       |  SELECT l.label, CAST(SUM(wd.wdeg) AS BIGINT) AS d_c
       |  FROM (SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg
       |        FROM edges GROUP BY src) wd
       |  JOIN l4 l ON l.node = wd.src
       |  GROUP BY l.label),
       |ec AS (
       |  SELECT ls.label, CAST(SUM(e.w) AS BIGINT) AS e_c
       |  FROM edges e
       |  JOIN l4 ls ON ls.node = e.src
       |  JOIN l4 ld ON ld.node = e.dst
       |  WHERE ls.label = ld.label
       |  GROUP BY ls.label),
       |parts AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |    CAST(SUM(COALESCE(ec.e_c, 0)) AS HUGEINT) AS se,
       |    SUM(CAST(dc.d_c AS HUGEINT) * dc.d_c) AS sd2
       |  FROM dc LEFT JOIN ec ON ec.label = dc.label)
       |SELECT n_communities, CAST(m.m2 AS BIGINT) AS total_weight_x2,
       |  CAST(m.m2 * se - sd2 AS DOUBLE) / CAST(m.m2 * m.m2 AS DOUBLE)
       |    AS modularity
       |FROM parts, m""".stripMargin
  }

  // --- q232: Poisson-bootstrap CI on an A/B difference -----------------------
  // q219 gives per-arm CIs, but overlapping per-arm intervals do NOT
  // answer "is the difference real" — the decision object is the CI of
  // the DIFFERENCE, resampled jointly so each replicate compares the
  // same perturbed world. Same deterministic md5→Poisson(1) weight grid
  // as q219 (replicate weights bit-equal across engines by construction);
  // per replicate r the two arm means (urgent vs low priority) subtract
  // into diff_r, and the 2.5/97.5 percentiles over the 64 diffs form the
  // interval; `excludes_zero` is the reading. One pass over the fact
  // table, no resampling shuffle — the 100 TB A/B readout.
  def q232(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rep = Tables.orders(s, d)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .select($"o_orderpriority", $"o_orderkey",
        money($"o_totalprice").as("price"),
        explode(sequence(lit(0), lit(63))).as("r"))
      .withColumn("u", bootUniform)
      .withColumn("wt", poissonWeight.cast("long"))
      .groupBy($"r")
      .agg(
        (sum(when($"o_orderpriority" === "1-URGENT", $"wt" * $"price"))
          .cast("double") /
          sum(when($"o_orderpriority" === "1-URGENT", $"wt"))).as("ma"),
        (sum(when($"o_orderpriority" === "5-LOW", $"wt" * $"price"))
          .cast("double") /
          sum(when($"o_orderpriority" === "5-LOW", $"wt"))).as("mb"))
      .select(($"ma" - $"mb").as("diff"))
    val point = Tables.orders(s, d)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .agg(
        (sum(when($"o_orderpriority" === "1-URGENT",
            $"o_totalprice".cast("decimal(18,2)"))).cast("double") /
          sum(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L)))
          .as("mean_a"),
        (sum(when($"o_orderpriority" === "5-LOW",
            $"o_totalprice".cast("decimal(18,2)"))).cast("double") /
          sum(when($"o_orderpriority" === "5-LOW", 1L).otherwise(0L)))
          .as("mean_b"))
    point.crossJoin( // one-row × one-row
        rep.agg(round(expr("percentile(diff, 0.025)"), 6).as("lo95"),
          round(expr("percentile(diff, 0.975)"), 6).as("hi95")))
      .select(($"mean_a" - $"mean_b").as("diff_point"), $"lo95", $"hi95",
        ($"lo95" > 0 || $"hi95" < 0).as("excludes_zero"))
  }
  val q232Sql: String =
    s"""WITH draws AS (
      |  SELECT o_orderpriority AS pri, r.r AS r,
      |    CAST(o_totalprice AS DECIMAL(14,2)) AS price,
      |    ('0x' || substr(md5('boot|' || CAST(o_orderkey AS VARCHAR) || '|'
      |      || CAST(r.r AS VARCHAR)), 1, 14))::BIGINT AS u
      |  FROM orders CROSS JOIN (SELECT UNNEST(range(64)) AS r) r
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |weighted AS (
      |  SELECT pri, r, price,
      |    $poissonCaseSql AS wt
      |  FROM draws),
      |rep AS (
      |  SELECT r,
      |    CAST(SUM(CASE WHEN pri = '1-URGENT' THEN wt * price END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN pri = '1-URGENT' THEN wt END) AS BIGINT)
      |    - CAST(SUM(CASE WHEN pri = '5-LOW' THEN wt * price END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN pri = '5-LOW' THEN wt END) AS BIGINT) AS diff
      |  FROM weighted GROUP BY r),
      |ci AS (
      |  SELECT ROUND(quantile_cont(diff, 0.025), 6) AS lo95,
      |    ROUND(quantile_cont(diff, 0.975), 6) AS hi95
      |  FROM rep),
      |pt AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
      |        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
      |      / SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
      |    - CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
      |        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
      |      / SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
      |      AS diff_point
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
      |SELECT pt.diff_point, ci.lo95, ci.hi95,
      |  (ci.lo95 > 0 OR ci.hi95 < 0) AS excludes_zero
      |FROM pt, ci""".stripMargin

  // --- q235: RFM customer segmentation ---------------------------------------
  // The warehouse-marketing classic: score every customer 1–5 on Recency
  // (days since last order), Frequency (order count), and Monetary (total
  // spend), concatenate into a segment code, and profile the segments.
  // Scores are NTILE(5) with the customer key as the explicit tie-break,
  // which makes the bucket assignment a total order — deterministic and
  // identical across engines (both split remainders into the leading
  // buckets). The three rankings run over the CUSTOMER dimension
  // (orders pre-aggregated per customer first — facts are never sorted)
  // through GlobalRank's distributed sort + partition-offset rank — no
  // single-partition window survives at any scale. All inputs exact: integer
  // day indexes, counts, decimal(18,2) spend; the profile averages are
  // the davg convention.
  def q235(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
      // NTZ wall-clock anchored via a cast under the UTC-pinned session —
      // the Tables.normalizeEventsTs convention
      .select($"o_custkey",
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("oday"), money($"o_totalprice").as("price"))
    val maxDay = o.agg(max($"oday").as("maxd"))
    val base = o.groupBy($"o_custkey")
      .agg(max($"oday").as("lastd"), count(lit(1)).as("freq"),
        sum($"price").as("mon"))
      .crossJoin(broadcast(maxDay)) // one-row bound
      .select($"o_custkey", ($"maxd" - $"lastd").as("recency"),
        $"freq", $"mon")
    // NTILE without the three single-partition global sorts: exact
    // distributed rank (GlobalRank: range-partition + per-partition offset)
    // plus the integer NTILE rule — bucket assignment identical to
    // ntile(5) OVER (ORDER BY ...) by construction.
    import graft.operators.GlobalRank
    val r1 = GlobalRank.withRowNumber(base,
      Seq($"recency".desc, $"o_custkey"), "r_rank", Some("n_cust"))
    val r2 = GlobalRank.withRowNumber(r1, Seq($"freq", $"o_custkey"), "f_rank")
    val r3 = GlobalRank.withRowNumber(r2, Seq($"mon", $"o_custkey"), "m_rank")
    val scored = r3
      .withColumn("r_score", GlobalRank.ntileFromRank($"r_rank", $"n_cust", 5))
      .withColumn("f_score", GlobalRank.ntileFromRank($"f_rank", $"n_cust", 5))
      .withColumn("m_score", GlobalRank.ntileFromRank($"m_rank", $"n_cust", 5))
    scored
      .groupBy(concat($"r_score", $"f_score", $"m_score").as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (sum($"mon").cast("double") / count(lit(1))).as("avg_spend"),
        (sum($"freq").cast("double") / count(lit(1))).as("avg_orders"),
        (sum($"recency").cast("double") / count(lit(1))).as("avg_recency_days"))
      .orderBy($"n_customers".desc, $"segment")
      .limit(25)
  }
  val q235Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS oday,
      |    CAST(o_totalprice AS DECIMAL(14,2)) AS price
      |  FROM orders),
      |base AS (
      |  SELECT o_custkey,
      |    (SELECT MAX(oday) FROM o) - MAX(oday) AS recency,
      |    CAST(COUNT(*) AS BIGINT) AS freq, SUM(price) AS mon
      |  FROM o GROUP BY o_custkey),
      |scored AS (
      |  SELECT *,
      |    NTILE(5) OVER (ORDER BY recency DESC, o_custkey) AS r_score,
      |    NTILE(5) OVER (ORDER BY freq, o_custkey) AS f_score,
      |    NTILE(5) OVER (ORDER BY mon, o_custkey) AS m_score
      |  FROM base)
      |SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
      |    || CAST(m_score AS VARCHAR) AS segment,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(mon) AS DOUBLE) / COUNT(*) AS avg_spend,
      |  CAST(SUM(freq) AS DOUBLE) / COUNT(*) AS avg_orders,
      |  CAST(SUM(recency) AS DOUBLE) / COUNT(*) AS avg_recency_days
      |FROM scored
      |GROUP BY 1
      |ORDER BY n_customers DESC, segment
      |LIMIT 25""".stripMargin

  // --- q236: sample-ratio-mismatch (SRM) health check ------------------------
  // The experimentation guardrail that runs BEFORE any treatment metric
  // is read (Fabijan 2019): if the observed arm sizes are inconsistent
  // with the designed 50/50 split, the assignment itself is broken and
  // every downstream readout is invalid. Users hash into arms on the
  // md5 grid; per first-seen-day cohort (where assignment bugs localize)
  // the 1-df chi-square against 50/50 collapses to (n_a − n_b)²/n —
  // pure integers with decimal(38,0) products and ONE double division,
  // flagged against the 99th-percentile χ²₁ critical value. The sharp
  // comparison is exact: both engines compute the identical rational.
  def q236(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val firstSeen = Tables.events(s, d)
      .groupBy($"user_id").agg(min(expr("(ts div 1000000000) div 86400"))
        .as("cohort_day"))
    val armed = firstSeen.withColumn("arm",
      conv(substring(md5(concat(lit("srm|"), $"user_id".cast("string"))),
        1, 14), 16, 10).cast("long") % 2)
    armed.groupBy($"cohort_day")
      .agg(sum(when($"arm" === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"arm" === 1, 1L).otherwise(0L)).as("n_b"))
      .select($"cohort_day", $"n_a", $"n_b",
        ((($"n_a" - $"n_b").cast("decimal(38,0)") *
          ($"n_a" - $"n_b").cast("decimal(38,0)")).cast("double") /
          ($"n_a" + $"n_b").cast("double")).as("chi2"),
        (((($"n_a" - $"n_b").cast("decimal(38,0)") *
          ($"n_a" - $"n_b").cast("decimal(38,0)")).cast("double") /
          ($"n_a" + $"n_b").cast("double")) > 6.635).as("srm_detected"))
      .orderBy($"cohort_day")
  }
  val q236Sql: String =
    """SELECT cohort_day, n_a, n_b,
      |  CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) AS DOUBLE)
      |    / CAST(n_a + n_b AS DOUBLE) AS chi2,
      |  (CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) AS DOUBLE)
      |    / CAST(n_a + n_b AS DOUBLE)) > 6.635 AS srm_detected
      |FROM (
      |  SELECT cohort_day,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM (
      |    SELECT user_id, MIN(epoch_us(ts) // 1000000 // 86400) AS cohort_day,
      |      ('0x' || substr(md5('srm|' || CAST(MIN(user_id) AS VARCHAR)),
      |        1, 14))::BIGINT % 2 AS arm
      |    FROM events GROUP BY user_id)
      |  GROUP BY cohort_day)
      |ORDER BY cohort_day""".stripMargin

  // --- q238: score calibration / reliability diagram --------------------------
  // The eval-loop honesty check (reliability diagram with per-bin ECE
  // terms; Naeini et al. 2015): bucket a score into ten fixed-width bins
  // and compare each bin's mean confidence against its observed positive
  // rate — a model can have great AUC (q208) and still be badly
  // calibrated. Score: the user's click share over their events as an
  // exact ppm integer (clicks·1e6 div n); label: the user ever purchased.
  // Everything stays on the integer grid — per-bin confidence and
  // accuracy are integer divisions of exact long sums, so there is no
  // double summation and no rounding tie to disagree on. Two linear
  // map-side-combinable aggregations (user, then bin); ≤10 rows out at
  // any scale.
  def q238(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perUser = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_ev"),
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("n_click"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("pos"))
      .select(expr("n_click * 1000000 div n_ev").as("conf_ppm"), $"pos")
      .select(least(expr("conf_ppm div 100000"), lit(9L)).as("bin"),
        $"conf_ppm", $"pos")
    perUser.groupBy($"bin")
      .agg(count(lit(1)).as("n_users"),
        sum($"conf_ppm").as("s_conf"), sum($"pos").as("n_pos"))
      .select($"bin", $"n_users",
        expr("s_conf div n_users").as("mean_conf_ppm"),
        expr("n_pos * 1000000 div n_users").as("acc_ppm"))
      .withColumn("gap_ppm", abs($"mean_conf_ppm" - $"acc_ppm"))
      .orderBy($"bin")
  }
  val q238Sql: String =
    """WITH u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_click,
      |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos
      |  FROM events GROUP BY 1),
      |sc AS (
      |  SELECT LEAST((n_click * 1000000 // n_ev) // 100000, 9) AS bin,
      |    n_click * 1000000 // n_ev AS conf_ppm, pos
      |  FROM u)
      |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(CAST(SUM(conf_ppm) AS BIGINT) // COUNT(*) AS BIGINT)
      |    AS mean_conf_ppm,
      |  CAST(CAST(SUM(pos) AS BIGINT) * 1000000 // COUNT(*) AS BIGINT)
      |    AS acc_ppm,
      |  CAST(ABS(CAST(SUM(conf_ppm) AS BIGINT) // COUNT(*)
      |    - CAST(SUM(pos) AS BIGINT) * 1000000 // COUNT(*)) AS BIGINT)
      |    AS gap_ppm
      |FROM sc GROUP BY 1 ORDER BY bin""".stripMargin

  // --- q241: UCB1 bandit arm scores -------------------------------------------
  // The experimentation family's allocation step (q153/q232 measure; this
  // decides): UCB1 (Auer, Cesa-Bianchi & Fischer 2002) scores each arm as
  // mean reward + sqrt(2·ln N / n_i) — the optimism bonus that makes the
  // regret logarithmic. Arms = event types; reward = the event's value
  // normalized by the global max so rewards live in [0,1] as UCB1 assumes.
  // Exactness: plays and cents-sums are exact longs (a 1e12-row events
  // table sums to ~5.6e16 cents, inside long range); the normalizing max
  // is a ONE-ROW broadcast; the score is one fixed IEEE chain over those
  // exact integers snapped to the 1e-9 grid — the q202 convention, so
  // DuckDB's ln/sqrt reproduce it bit-for-bit. Shape: one map-side-
  // combinable aggregation to an arms-sized table; everything after is a
  // broadcast of one row. At 100 TB this is a single linear scan.
  def q241(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"))
    val arms = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n_plays"), sum($"vc").as("s_cents"))
    val glob = arms.agg(sum($"n_plays").as("big_n"))
      .crossJoin(ev.agg(max($"vc").as("maxvc"))) // one row × one row
    arms.crossJoin(broadcast(glob))
      .withColumn("ucb_e9", round(
        ($"s_cents" * lit(1.0) / $"n_plays" / $"maxvc"
          + sqrt(lit(2.0) * log($"big_n") / $"n_plays")) * lit(1e9))
        .cast("long"))
      .select($"event_type", $"n_plays", $"s_cents",
        ($"ucb_e9".cast("double") / lit(1e9)).as("ucb_score"))
      .orderBy($"event_type")
  }
  val q241Sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM events),
      |arms AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_plays,
      |    CAST(SUM(vc) AS BIGINT) AS s_cents
      |  FROM ev GROUP BY 1),
      |gl AS (
      |  SELECT (SELECT CAST(SUM(n_plays) AS BIGINT) FROM arms) AS big_n,
      |         (SELECT MAX(vc) FROM ev) AS maxvc)
      |SELECT event_type, n_plays, s_cents,
      |  CAST(CAST(ROUND((s_cents * 1.0 / n_plays / maxvc
      |    + sqrt(2.0 * ln(big_n) / n_plays)) * 1e9) AS BIGINT) AS DOUBLE)
      |    / 1e9 AS ucb_score
      |FROM arms CROSS JOIN gl
      |ORDER BY event_type""".stripMargin

  // --- q245: Herfindahl-Hirschman concentration index --------------------------
  // The traffic-concentration audit: per event type, HHI of the user
  // share distribution — Σᵤ shareᵤ² — the antitrust-standard measure
  // repurposed as the "is this feed a few bots or a real population"
  // screen a training-data pipeline keeps next to q187's dup dashboard
  // (HHI → 1e6 ppm means one user emits everything; → 1e6/n means
  // uniform). Exactness: Σc² and (Σc)² are decimal(38,0)/HUGEINT products
  // of exact longs (a 1e12-count user squares to 1e24 — far past both
  // long and 2^53, the q154 rule), and the ppm result is ONE integral
  // divide of exact integers — no doubles anywhere. Shape: two hash
  // aggregations, (type,user) then type, both map-side combinable; the
  // per-type row count bounds output at #types.
  def q245(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    Tables.events(s, d)
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("c"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"), sum($"c").as("n_events"),
        sum($"c".cast(big) * $"c".cast(big)).as("s2"),
        max($"c").as("max_c"))
      .select($"event_type", $"n_users", $"n_events",
        expr(s"cast((s2 * 1000000) div (cast(n_events as $big)" +
          s" * cast(n_events as $big)) as bigint)").as("hhi_ppm"),
        expr("max_c * 1000000 div n_events").as("top_share_ppm"))
      .orderBy($"event_type")
  }
  val q245Sql: String =
    """WITH cu AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |agg AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(c) AS BIGINT) AS n_events,
      |    SUM(CAST(c AS HUGEINT) * c) AS s2,
      |    CAST(MAX(c) AS BIGINT) AS max_c
      |  FROM cu GROUP BY 1)
      |SELECT event_type, n_users, n_events,
      |  CAST((s2 * 1000000) // (CAST(n_events AS HUGEINT) * n_events)
      |    AS BIGINT) AS hhi_ppm,
      |  CAST(max_c * 1000000 // n_events AS BIGINT) AS top_share_ppm
      |FROM agg
      |ORDER BY event_type""".stripMargin

  // --- q248: Kaplan-Meier survival curve (right-censored) -----------------------
  // Time-to-conversion with honest censoring (Kaplan & Meier 1958): per
  // user, origin = first event, "death" = first purchase, censoring at
  // the corpus horizon — the estimator every retention/conversion readout
  // should use instead of naive conversion rates (which silently treat
  // not-yet-converted as never-converting). S(t) = Π_{s≤t} (1 − d_s/n_s).
  // Exactness: the per-step hazard term ln(1 − d/n) is ONE fixed IEEE
  // chain from exact longs snapped to the 1e-9 grid as a LONG; the
  // cumulative product becomes an EXACT long cumsum of those terms, and
  // exp() is applied once at the end, snapped to ppm — so no
  // row-order-dependent double products anywhere (the q202 convention
  // applied to a running product). d = n (everyone at risk dies) would
  // be ln(0): guarded with a 1e-12 floor → survival snaps to 0 ppm.
  // Shape: one corpus scan to per-user rows, one aggregation to the
  // duration-day grid (bounded by the observation window, ~tens of
  // rows), windows only over that tiny grid — never over users.
  def q248(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"user_id", $"ts", $"event_type")
    val horizon = ev.agg(max($"ts").as("tmax"))
    val perUser = ev.groupBy($"user_id")
      .agg(min($"ts").as("t0"),
        min(when($"event_type" === "purchase", $"ts")).as("tp"))
      .crossJoin(broadcast(horizon)) // one row
      .select(
        expr("coalesce(tp - t0, tmax - t0) div 86400000000000").as("day"),
        $"tp".isNotNull.as("died"))
    val nUsers = perUser.agg(count(lit(1)).as("n_users"))
    val grid = perUser.groupBy($"day")
      .agg(sum(when($"died", 1L).otherwise(0L)).as("d_events"),
        sum(when(!$"died", 1L).otherwise(0L)).as("c_censored"))
      .crossJoin(broadcast(nUsers)) // one row
    // windows over the duration-day grid only (≤ observation-window days)
    val byDay = Window.orderBy($"day")
    val prior = byDay.rowsBetween(Window.unboundedPreceding, -1)
    val upToHere = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("n_risk",
        $"n_users" - coalesce(sum($"d_events" + $"c_censored").over(prior), lit(0L)))
      .withColumn("term_e9",
        round(log(greatest(lit(1.0) - $"d_events" * lit(1.0) / $"n_risk",
          lit(1e-12))) * lit(1e9)).cast("long"))
      .withColumn("cum_e9", sum($"term_e9").over(upToHere))
      .select($"day", $"n_risk", $"d_events", $"c_censored",
        round(exp($"cum_e9".cast("double") / lit(1e9)) * lit(1e6))
          .cast("long").as("survival_ppm"))
      .orderBy($"day")
  }
  val q248Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) * 1000 AS tns, event_type FROM events),
      |h AS (SELECT MAX(tns) AS tmax FROM ev),
      |pu AS (
      |  SELECT COALESCE(MIN(CASE WHEN event_type = 'purchase' THEN tns END)
      |           - MIN(tns), (SELECT tmax FROM h) - MIN(tns))
      |      // 86400000000000 AS day,
      |    (MIN(CASE WHEN event_type = 'purchase' THEN tns END) IS NOT NULL)
      |      AS died
      |  FROM ev GROUP BY user_id),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM pu),
      |grid AS (
      |  SELECT day,
      |    CAST(SUM(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT) AS d_events,
      |    CAST(SUM(CASE WHEN died THEN 0 ELSE 1 END) AS BIGINT) AS c_censored
      |  FROM pu GROUP BY day),
      |risk AS (
      |  SELECT day, d_events, c_censored,
      |    n_users - COALESCE(SUM(d_events + c_censored) OVER
      |      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS n_risk
      |  FROM grid CROSS JOIN n),
      |terms AS (
      |  SELECT day, n_risk, d_events, c_censored,
      |    CAST(ROUND(ln(GREATEST(1.0 - d_events * 1.0 / n_risk, 1e-12))
      |      * 1e9) AS BIGINT) AS term_e9
      |  FROM risk)
      |SELECT day, CAST(n_risk AS BIGINT) AS n_risk, d_events, c_censored,
      |  CAST(ROUND(exp(CAST(SUM(term_e9) OVER
      |    (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) / 1e9) * 1e6) AS BIGINT) AS survival_ppm
      |FROM terms
      |ORDER BY day""".stripMargin

  // --- q274: difference-in-differences estimator -----------------------------------
  // The quasi-experimental workhorse (Card & Krueger 1994's design):
  // when treatment wasn't randomized per-exposure, compare the CHANGE in
  // the treated group against the CHANGE in the control group — DiD =
  // (T_post − T_pre) − (C_post − C_pre) — so any level difference and any
  // common trend cancel. Assignment = the md5 user-arm convention
  // (q236); pre/post = the q239 split-day broadcast. Exactness: the four
  // cell means come from exact cents sums and counts; the estimate is
  // ONE fixed double chain over those eight exact integers, snapped at
  // 1e-6. Shape: one conditional aggregation to a 4-cell table per event
  // type (type × arm × period), then arithmetic on a ≤types-row grid.
  def q274(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      expr("(ts div 1000000000) div 86400").as("day"), $"event_type",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"),
      (conv(substring(md5(concat(lit("srm|"), $"user_id".cast("string"))),
        1, 14), 16, 10).cast("long") % 2).as("arm"))
    val split = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(greatest(expr("(d0 + d1 + 1) div 2"), $"d0" + 1).as("split"))
    val cells = ev.crossJoin(broadcast(split)) // one row
      .withColumn("post", ($"day" >= $"split").cast("int"))
      .groupBy($"event_type")
      .agg(
        sum(when($"arm" === 1 && $"post" === 1, $"vc")).as("s_t1"),
        sum(when($"arm" === 1 && $"post" === 1, 1L).otherwise(0L)).as("n_t1"),
        sum(when($"arm" === 1 && $"post" === 0, $"vc")).as("s_t0"),
        sum(when($"arm" === 1 && $"post" === 0, 1L).otherwise(0L)).as("n_t0"),
        sum(when($"arm" === 0 && $"post" === 1, $"vc")).as("s_c1"),
        sum(when($"arm" === 0 && $"post" === 1, 1L).otherwise(0L)).as("n_c1"),
        sum(when($"arm" === 0 && $"post" === 0, $"vc")).as("s_c0"),
        sum(when($"arm" === 0 && $"post" === 0, 1L).otherwise(0L)).as("n_c0"))
    cells.select($"event_type",
        $"n_t0", $"n_t1", $"n_c0", $"n_c1",
        (round((($"s_t1".cast("double") / $"n_t1"
          - $"s_t0".cast("double") / $"n_t0")
          - ($"s_c1".cast("double") / $"n_c1"
            - $"s_c0".cast("double") / $"n_c0")) / 100.0 * lit(1e6))
          .cast("long").cast("double") / lit(1e6)).as("did_dollars"))
      .orderBy($"event_type")
  }
  val q274Sql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 1000000 // 86400 AS day, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
      |    ('0x' || substr(md5('srm|' || CAST(user_id AS VARCHAR)), 1, 14))
      |      ::BIGINT % 2 AS arm
      |  FROM events),
      |b AS (SELECT GREATEST((MIN(day) + MAX(day) + 1) // 2, MIN(day) + 1)
      |        AS split FROM ev),
      |cells AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN arm = 1 AND day >= split THEN vc END)
      |      AS BIGINT) AS s_t1,
      |    CAST(SUM(CASE WHEN arm = 1 AND day >= split THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_t1,
      |    CAST(SUM(CASE WHEN arm = 1 AND day < split THEN vc END)
      |      AS BIGINT) AS s_t0,
      |    CAST(SUM(CASE WHEN arm = 1 AND day < split THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_t0,
      |    CAST(SUM(CASE WHEN arm = 0 AND day >= split THEN vc END)
      |      AS BIGINT) AS s_c1,
      |    CAST(SUM(CASE WHEN arm = 0 AND day >= split THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_c1,
      |    CAST(SUM(CASE WHEN arm = 0 AND day < split THEN vc END)
      |      AS BIGINT) AS s_c0,
      |    CAST(SUM(CASE WHEN arm = 0 AND day < split THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_c0
      |  FROM ev, b GROUP BY 1)
      |SELECT event_type, n_t0, n_t1, n_c0, n_c1,
      |  CAST(CAST(ROUND(((CAST(s_t1 AS DOUBLE) / n_t1
      |      - CAST(s_t0 AS DOUBLE) / n_t0)
      |    - (CAST(s_c1 AS DOUBLE) / n_c1
      |      - CAST(s_c0 AS DOUBLE) / n_c0)) / 100.0 * 1e6) AS BIGINT)
      |    AS DOUBLE) / 1e6 AS did_dollars
      |FROM cells
      |ORDER BY event_type""".stripMargin

  // --- q269: isotonic calibration (declarative PAV) --------------------------------
  // The monotone recalibration step over q238's reliability bins
  // (Zadrozny & Elkan 2002): fit the best NON-DECREASING rate curve to
  // the per-bin positive rates. Instead of the sequential
  // pool-adjacent-violators walk (a driver loop), this uses the minimax
  // IDENTITY of the isotonic fit — iso(i) = max_{j≤i} min_{k≥i}
  // mean(y[j..k]) — which is pure joins/aggregations over the ≤10-bin
  // grid: prefix sums once, a (j,k) segment table (≤55 rows), min over k
  // per (i,j), max over j per i. Means are ppm integral divisions of
  // exact long prefix differences (floors inside the minimax make this
  // the ppm-grid statement of PAV — deterministic in both engines,
  // documented). Everything after the corpus scan touches ≤220 rows.
  def q269(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val bins = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_ev"),
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("n_click"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("pos"))
      .select(least(expr("n_click * 1000000 div n_ev div 100000"), lit(9L))
        .as("bin"), $"pos")
      .groupBy($"bin").agg(count(lit(1)).as("n"), sum($"pos").as("pos"))
    val cums = bins
      .withColumn("cn", sum($"n").over(Window.orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cp", sum($"pos").over(Window.orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pn", $"cn" - $"n").withColumn("pp", $"cp" - $"pos")
      .persistTracked() // segment build consumes it twice + final join
    val seg = cums.select($"bin".as("jb"), $"pn", $"pp")
      .join(cums.select($"bin".as("kb"), $"cn", $"cp"), $"jb" <= $"kb")
      .select($"jb", $"kb",
        expr("(cp - pp) * 1000000 div (cn - pn)").as("mean_ppm"))
    val iso = cums.select($"bin")
      .join(seg, $"jb" <= $"bin" && $"bin" <= $"kb")
      .groupBy($"bin", $"jb").agg(min($"mean_ppm").as("mn"))
      .groupBy($"bin").agg(max($"mn").as("iso_rate_ppm"))
    cums.join(iso, "bin")
      .select($"bin", $"n", $"pos",
        expr("pos * 1000000 div n").as("raw_rate_ppm"), $"iso_rate_ppm")
      .orderBy($"bin")
  }
  val q269Sql: String =
    """WITH u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_click,
      |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos
      |  FROM events GROUP BY 1),
      |bins AS (
      |  SELECT LEAST(n_click * 1000000 // n_ev // 100000, 9) AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS pos
      |  FROM u GROUP BY 1),
      |cums AS (
      |  SELECT bin, n, pos,
      |    SUM(n) OVER w AS cn, SUM(pos) OVER w AS cp,
      |    SUM(n) OVER w - n AS pn, SUM(pos) OVER w - pos AS pp
      |  FROM bins
      |  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW)),
      |seg AS (
      |  SELECT j.bin AS jb, k.bin AS kb,
      |    CAST((k.cp - j.pp) * 1000000 // (k.cn - j.pn) AS BIGINT)
      |      AS mean_ppm
      |  FROM cums j JOIN cums k ON j.bin <= k.bin),
      |mins AS (
      |  SELECT i.bin, seg.jb, MIN(mean_ppm) AS mn
      |  FROM cums i JOIN seg ON seg.jb <= i.bin AND i.bin <= seg.kb
      |  GROUP BY 1, 2),
      |iso AS (
      |  SELECT bin, CAST(MAX(mn) AS BIGINT) AS iso_rate_ppm
      |  FROM mins GROUP BY 1)
      |SELECT bin, n, pos, CAST(pos * 1000000 // n AS BIGINT)
      |    AS raw_rate_ppm, iso_rate_ppm
      |FROM cums JOIN iso USING (bin)
      |ORDER BY bin""".stripMargin

  // --- q267: median-of-means robust estimator ------------------------------------
  // The heavy-tail-safe mean (Nemirovsky & Yudin 1983; the estimator
  // behind every modern robust-statistics bound): split each type's
  // events into 16 deterministic md5 buckets, take each bucket's mean,
  // report the MEDIAN of the 16 means next to the raw mean — one
  // adversarial/heavy-tail bucket moves one of sixteen means, not the
  // estimate. Exactness: bucket sums/counts are exact longs; each bucket
  // mean is ONE fixed double division; the median interpolates over 16
  // values identically in both engines (q230 argument); 1e-6 snap.
  // Shape: two map-side-combinable aggregations, (type, bucket) then
  // type; output bounded at #types.
  def q267(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"),
        (conv(substring(md5(concat(lit("mom|"),
          $"event_id".cast("string"))), 1, 14), 16, 10)
          .cast("long") % 16).as("bucket"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n"), sum($"vc").as("sv"))
      .withColumn("bucket_mean", $"sv".cast("double") / $"n" / lit(100.0))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_buckets"), sum($"n").as("n_events"),
        round(expr("percentile(bucket_mean, 0.5)"), 6).as("mom_mean"),
        round(sum($"sv").cast("double") / sum($"n") / lit(100.0), 6)
          .as("raw_mean"))
      .orderBy($"event_type")
  }
  val q267Sql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
      |    ('0x' || substr(md5('mom|' || CAST(event_id AS VARCHAR)), 1, 14))
      |      ::BIGINT % 16 AS bucket
      |  FROM events),
      |g AS (
      |  SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(vc) AS BIGINT) AS sv
      |  FROM b GROUP BY 1, 2)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |  CAST(SUM(n) AS BIGINT) AS n_events,
      |  ROUND(quantile_cont(CAST(sv AS DOUBLE) / n / 100.0, 0.5), 6)
      |    AS mom_mean,
      |  ROUND(CAST(SUM(sv) AS DOUBLE) / SUM(n) / 100.0, 6) AS raw_mean
      |FROM g GROUP BY 1
      |ORDER BY event_type""".stripMargin

  // --- q253: decision-split information gain (Gini impurity) -------------------
  // The tree-learning primitive (CART; Breiman 1984): for each candidate
  // binary feature "user ever did E" (E ≠ purchase), the Gini-impurity
  // reduction of splitting the ever-purchased label on it — the feature-
  // usefulness ranking a tabular-ML pipeline computes before training
  // anything. Exactness: each impurity is an exact ppm long,
  // gini_ppm = (n² − pos² − neg²)·1e6 div n² with decimal(38,0)/HUGEINT
  // products, and the weighted-child average is a second integral divide
  // — a deterministic ppm-grid statement of the formula in BOTH engines
  // (documented: the two-level floor can sit ±2 ppm off the real-valued
  // gain; identical on both sides, which is what the gate pins). Shape:
  // one aggregation to per-user flags, a 4-way stack of those flags
  // (users×4 rows), one aggregation to a 8-row table, one-row broadcast
  // parent.
  def q253(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    val feats = Seq("click", "view", "error", "signup")
    val perUser = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("label"),
        feats.map(f =>
          max(when($"event_type" === f, 1L).otherwise(0L)).as(s"f_$f")): _*)
    val stacked = perUser.select($"label", explode(array(feats.map(f =>
      struct(lit(f).as("feature"), col(s"f_$f").as("flag"))): _*)).as("sf"))
      .select($"label", $"sf.feature", $"sf.flag")
    def giniPpm(n: String, pos: String): String =
      s"cast((cast($n as $big) * $n - cast($pos as $big) * $pos" +
        s" - cast($n - $pos as $big) * ($n - $pos)) * 1000000" +
        s" div (cast($n as $big) * $n) as bigint)"
    val parent = perUser.agg(count(lit(1)).as("n"), sum($"label").as("pos"))
      .select($"n", $"pos", expr(giniPpm("n", "pos")).as("parent_gini_ppm"))
    stacked.groupBy($"feature", $"flag")
      .agg(count(lit(1)).as("n_c"), sum($"label").as("pos_c"))
      .withColumn("gini_c_ppm", expr(giniPpm("n_c", "pos_c")))
      .groupBy($"feature")
      .agg(sum(when($"flag" === 1, $"n_c").otherwise(0L)).as("n_with"),
        sum(when($"flag" === 0, $"n_c").otherwise(0L)).as("n_without"),
        sum($"n_c" * $"gini_c_ppm").as("wsum"))
      .crossJoin(broadcast(parent)) // one row
      .select($"feature", $"n_with", $"n_without",
        $"parent_gini_ppm",
        ($"parent_gini_ppm" - expr("wsum div n")).as("gain_ppm"))
      .orderBy($"feature")
  }
  val q253Sql: String = {
    def giniPpm(n: String, pos: String): String =
      s"CAST((CAST($n AS HUGEINT) * $n - CAST($pos AS HUGEINT) * $pos" +
        s" - CAST($n - $pos AS HUGEINT) * ($n - $pos)) * 1000000" +
        s" // (CAST($n AS HUGEINT) * $n) AS BIGINT)"
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS label,
      |    CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS f_click,
      |    CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS f_view,
      |    CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS f_error,
      |    CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS f_signup
      |  FROM events GROUP BY 1),
      |stacked AS (
      |  SELECT label, 'click' AS feature, f_click AS flag FROM pu
      |  UNION ALL SELECT label, 'view', f_view FROM pu
      |  UNION ALL SELECT label, 'error', f_error FROM pu
      |  UNION ALL SELECT label, 'signup', f_signup FROM pu),
      |parent AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT)
      |    AS pos
      |  FROM pu),
      |cells AS (
      |  SELECT feature, flag, CAST(COUNT(*) AS BIGINT) AS n_c,
      |    CAST(SUM(label) AS BIGINT) AS pos_c
      |  FROM stacked GROUP BY 1, 2),
      |perf AS (
      |  SELECT feature,
      |    CAST(SUM(CASE WHEN flag = 1 THEN n_c ELSE 0 END) AS BIGINT)
      |      AS n_with,
      |    CAST(SUM(CASE WHEN flag = 0 THEN n_c ELSE 0 END) AS BIGINT)
      |      AS n_without,
      |    CAST(SUM(n_c * GINI_C) AS BIGINT) AS wsum
      |  FROM (SELECT feature, flag, n_c, pos_c, GINI_EXPR AS GINI_C
      |        FROM cells)
      |  GROUP BY 1)
      |SELECT feature, n_with, n_without,
      |  PARENT_EXPR AS parent_gini_ppm,
      |  PARENT_EXPR - CAST(wsum // n AS BIGINT) AS gain_ppm
      |FROM perf CROSS JOIN parent
      |ORDER BY feature""".stripMargin
      .replace("GINI_EXPR", giniPpm("n_c", "pos_c"))
      .replace("PARENT_EXPR", giniPpm("n", "pos"))
  }

  // --- q254: weight of evidence + information value ----------------------------
  // The scorecard feature screen that pairs with q239's PSI (both are
  // banking-standard; Siddiqi 2006): bin the event value into ten
  // equal-width slices of the global cents range, and per bin compute
  // WoE = ln(p_purchase / p_other) and the IV term (p_p − p_o)·WoE — the
  // feature-predictiveness measure read before any model sees the
  // column. Conventions shared with q239 verbatim: one-row broadcast max,
  // pure long bin arithmetic, a DENSE 10-bin grid with Laplace +1 so
  // empty bins stay finite, per-bin terms in one fixed IEEE chain from
  // exact longs snapped to the 1e-9 grid; the total IV is the exact long
  // sum of those terms, repeated per row from a one-row broadcast.
  def q254(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"),
      ($"event_type" === "purchase").as("good"))
    val maxv = ev.agg(max($"vc").as("maxvc"))
    // persist: ≤10 rows, but dense/tot/terms branches would each re-run
    // the corpus-sized bin count otherwise (CacheLifecycle contract)
    import graft.CacheLifecycle.TrackedPersistOps
    val counts = ev.crossJoin(broadcast(maxv)) // one row
      .select(least(expr("vc * 10 div (maxvc + 1)"), lit(9L)).as("bin"), $"good")
      .groupBy($"bin")
      .agg(sum(when($"good", 1L).otherwise(0L)).as("g"),
        sum(when(!$"good", 1L).otherwise(0L)).as("b"))
      .persistTracked()
    val dense = s.range(10).select($"id".as("bin"))
      .join(counts, Seq("bin"), "left")
      .select($"bin", coalesce($"g", lit(0L)).as("g"), coalesce($"b", lit(0L)).as("b"))
    val tot = dense.agg(sum($"g").as("gt"), sum($"b").as("bt"))
    val pG = ($"g" + 1) * lit(1.0) / ($"gt" + 10)
    val pB = ($"b" + 1) * lit(1.0) / ($"bt" + 10)
    val terms = dense.crossJoin(broadcast(tot)) // one row
      .withColumn("woe_e9", round(log(pG / pB) * lit(1e9)).cast("long"))
      .withColumn("iv_e9", round((pG - pB) * log(pG / pB) * lit(1e9)).cast("long"))
    terms.crossJoin(broadcast(terms.agg(sum($"iv_e9").as("iv_tot_e9")))) // one row
      .select($"bin", $"g".as("n_good"), $"b".as("n_bad"),
        ($"woe_e9".cast("double") / lit(1e9)).as("woe"),
        ($"iv_e9".cast("double") / lit(1e9)).as("iv_term"),
        ($"iv_tot_e9".cast("double") / lit(1e9)).as("iv_total"))
      .orderBy($"bin")
  }
  val q254Sql: String =
    """WITH ev AS (
      |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
      |    event_type = 'purchase' AS good
      |  FROM events),
      |m AS (SELECT MAX(vc) AS maxvc FROM ev),
      |counts AS (
      |  SELECT LEAST(vc * 10 // (maxvc + 1), 9) AS bin,
      |    CAST(SUM(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS g,
      |    CAST(SUM(CASE WHEN good THEN 0 ELSE 1 END) AS BIGINT) AS b
      |  FROM ev, m GROUP BY 1),
      |dense AS (
      |  SELECT bins.bin, COALESCE(g, 0) AS g, COALESCE(b, 0) AS b
      |  FROM (SELECT unnest(range(0, 10)) AS bin) bins
      |  LEFT JOIN counts ON counts.bin = bins.bin),
      |tot AS (SELECT CAST(SUM(g) AS BIGINT) AS gt,
      |          CAST(SUM(b) AS BIGINT) AS bt FROM dense),
      |terms AS (
      |  SELECT bin, g, b,
      |    CAST(ROUND(ln(((g + 1) * 1.0 / (gt + 10))
      |      / ((b + 1) * 1.0 / (bt + 10))) * 1e9) AS BIGINT) AS woe_e9,
      |    CAST(ROUND((((g + 1) * 1.0 / (gt + 10))
      |      - ((b + 1) * 1.0 / (bt + 10)))
      |      * ln(((g + 1) * 1.0 / (gt + 10))
      |         / ((b + 1) * 1.0 / (bt + 10))) * 1e9) AS BIGINT) AS iv_e9
      |  FROM dense CROSS JOIN tot),
      |ivt AS (SELECT CAST(SUM(iv_e9) AS BIGINT) AS iv_tot_e9 FROM terms)
      |SELECT bin, g AS n_good, b AS n_bad,
      |  CAST(woe_e9 AS DOUBLE) / 1e9 AS woe,
      |  CAST(iv_e9 AS DOUBLE) / 1e9 AS iv_term,
      |  CAST(iv_tot_e9 AS DOUBLE) / 1e9 AS iv_total
      |FROM terms CROSS JOIN ivt
      |ORDER BY bin""".stripMargin

  // --- q255: cumulative gains table (decile lift) -------------------------------
  // The model-eval readout between q208's ranking metrics and q238's
  // calibration: rank users by a score (click-share ppm, the q238 score),
  // cut into ten deciles, and report each decile's purchaser capture and
  // cumulative gains — "the top 20 % of scores capture X % of buyers",
  // the sentence every targeting decision quotes. Determinism: NTILE
  // over a TOTAL order (score DESC, user_id — the q235 convention);
  // gains and lift are ppm integral divisions with decimal(38,0)/HUGEINT
  // cross products. Shape: per-user aggregation, one GlobalRank
  // distributed rank over the user DIMENSION (no single-partition
  // window), ten-row grid windows after.
  def q255(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = "decimal(38,0)"
    val perUser = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_ev"),
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("n_click"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("pos"))
      .select($"user_id", expr("n_click * 1000000 div n_ev").as("score"), $"pos")
    // persist: 10 rows with a corpus scan + ranking behind them;
    // the totals branch and the gains projection both consume it.
    // NTILE via GlobalRank (distributed rank + integer NTILE rule) — the
    // user dimension is never sorted on one task.
    import graft.CacheLifecycle.TrackedPersistOps
    import graft.operators.GlobalRank
    val decile = GlobalRank.withRowNumber(perUser,
        Seq($"score".desc, $"user_id"), "u_rank", Some("n_u"))
      .withColumn("decile",
        GlobalRank.ntileFromRank($"u_rank", $"n_u", 10))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_users"), sum($"pos").as("n_pos"))
      .persistTracked()
    val tot = decile.agg(sum($"n_users").as("n_all"), sum($"n_pos").as("g_all"))
    // ten-row grid window — single-partition on purpose; the non-foldable
    // constant partition key (pmod) keeps WindowExec from mislogging the
    // bounded pass as an unbounded single-partition sort
    val cum = Window.partitionBy(pmod($"decile", lit(1))).orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    decile.crossJoin(broadcast(tot)) // one row
      .withColumn("cum_pos", sum($"n_pos").over(cum))
      .withColumn("cum_users", sum($"n_users").over(cum))
      .select($"decile", $"n_users", $"n_pos",
        expr(s"cast(cast(cum_pos as $big) * 1000000 div g_all as bigint)")
          .as("cum_gain_ppm"),
        expr(s"cast(cast(n_pos as $big) * n_all * 1000000 div" +
          s" (cast(n_users as $big) * g_all) as bigint)").as("lift_ppm"))
      .orderBy($"decile")
  }
  val q255Sql: String =
    """WITH u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_click,
      |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos
      |  FROM events GROUP BY 1),
      |scored AS (
      |  SELECT user_id, n_click * 1000000 // n_ev AS score, pos FROM u),
      |dec AS (
      |  SELECT NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile, pos
      |  FROM scored),
      |g AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(pos) AS BIGINT) AS n_pos
      |  FROM dec GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_all,
      |          CAST(SUM(n_pos) AS BIGINT) AS g_all FROM g),
      |c AS (
      |  SELECT decile, n_users, n_pos,
      |    SUM(n_pos) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
      |  FROM g)
      |SELECT decile, n_users, n_pos,
      |  CAST(CAST(cum_pos AS HUGEINT) * 1000000 // g_all AS BIGINT)
      |    AS cum_gain_ppm,
      |  CAST(CAST(n_pos AS HUGEINT) * n_all * 1000000
      |    // (CAST(n_users AS HUGEINT) * g_all) AS BIGINT) AS lift_ppm
      |FROM c CROSS JOIN tot
      |ORDER BY decile""".stripMargin

  // --- q260: split-conformal coverage audit -------------------------------------
  // The distribution-free prediction-interval check (Vovk 2005; Angelopoulos
  // & Bates 2023's split-conformal recipe): fit a predictor on the
  // reference half (q239's split convention), take the 90th-percentile
  // absolute residual as the conformal radius q̂, and measure COVERAGE on
  // the held-out second half — the guarantee says ≈90 % of unseen values
  // land within ±q̂, and a pipeline whose coverage drifts from nominal has
  // a broken model or a drifted feed. The predictor here is the per-type
  // mean (one parameter — fit and calibrated on the same reference half,
  // resubstitution documented as acceptable at that capacity; the
  // COVERAGE half is strictly held out, which is what the guarantee
  // needs). Exactness: the mean is the floored cents integer s div n
  // (documented); residuals are exact longs; q̂ is the interpolated
  // percentile both engines compute identically on exact inputs (q230
  // argument); coverage is a ppm integral division.
  def q260(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select(
      expr("(ts div 1000000000) div 86400").as("day"), $"event_type",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"))
    val split = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(greatest(expr("(d0 + d1 + 1) div 2"), $"d0" + 1).as("split"))
    val withSplit = ev.crossJoin(broadcast(split)) // one row
    val means = withSplit.filter($"day" < $"split")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_train"), expr("sum(vc) div count(1)").as("mean_c"))
    val qhat = withSplit.filter($"day" < $"split")
      .join(broadcast(means), "event_type")
      .select($"event_type", abs($"vc" - $"mean_c").as("res"))
      .groupBy($"event_type")
      .agg(expr("percentile(res, 0.9)").as("qhat"))
    withSplit.filter($"day" >= $"split")
      .join(broadcast(means), "event_type")
      .join(broadcast(qhat), "event_type")
      .groupBy($"event_type")
      .agg(min($"n_train").as("n_train"), count(lit(1)).as("n_test"),
        round(min($"qhat") / 100.0, 6).as("qhat_dollars"),
        sum(when(abs($"vc" - $"mean_c") <= $"qhat", 1L).otherwise(0L))
          .as("n_covered"))
      // Integral `div`, not float `/`: the double path diverges from the
      // oracle's exact `//` once the numerator passes 2^53 (or a correctly
      // rounded double lands across an integer boundary) — the repo's div
      // convention everywhere ppm/ratio integers are emitted.
      .select($"event_type", $"n_train", $"n_test", $"qhat_dollars",
        expr("n_covered * 1000000 div n_test").cast("long")
          .as("coverage_ppm"))
      .orderBy($"event_type")
  }
  val q260Sql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 1000000 // 86400 AS day, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM events),
      |b AS (SELECT GREATEST((MIN(day) + MAX(day) + 1) // 2, MIN(day) + 1)
      |        AS split FROM ev),
      |means AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_train,
      |    CAST(SUM(vc) // COUNT(*) AS BIGINT) AS mean_c
      |  FROM ev, b WHERE day < split GROUP BY 1),
      |qh AS (
      |  SELECT event_type, quantile_cont(ABS(vc - mean_c), 0.9) AS qhat
      |  FROM ev JOIN means USING (event_type) CROSS JOIN b
      |  WHERE day < split GROUP BY 1)
      |SELECT event_type, MIN(n_train) AS n_train,
      |  CAST(COUNT(*) AS BIGINT) AS n_test,
      |  ROUND(MIN(qhat) / 100.0, 6) AS qhat_dollars,
      |  CAST(SUM(CASE WHEN ABS(vc - mean_c) <= qhat THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm
      |FROM ev
      |JOIN means USING (event_type) JOIN qh USING (event_type)
      |CROSS JOIN b
      |WHERE day >= split
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q262: truncation-adjusted cohort LTV curve --------------------------------
  // q71's retention triangle in revenue terms, with the correction naive
  // LTV dashboards skip: at age a, only cohorts with cohort_day + a ≤
  // max_day have BEEN OBSERVED that long — averaging over younger cohorts
  // deflates the curve's tail. Per age: restrict to fully-observable
  // cohorts, cumulate their purchase revenue through that age, divide by
  // their user count. Shape: one corpus aggregation to the (cohort, age)
  // revenue grid (days² rows at most — tiny), the age roll-up is a
  // triangular join over that grid, all exact cents integers with one
  // integral divide per row.
  def q262(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val ev = Tables.events(s, d).select($"user_id",
      expr("(ts div 1000000000) div 86400").as("day"), $"event_type",
      ($"value".cast("decimal(18,2)") * 100).cast("long").as("vc"))
    val cohorts = ev.groupBy($"user_id").agg(min($"day").as("cohort"))
    val joined = ev.join(cohorts, "user_id")
      .withColumn("age", $"day" - $"cohort")
    // (cohort, age) grids: purchase revenue + cohort sizes; persisted —
    // corpus-sized scans behind them, triangular consumers after
    val rev = joined.filter($"event_type" === "purchase")
      .groupBy($"cohort", $"age").agg(sum($"vc").as("r"))
      .persistTracked()
    val sizes = cohorts.groupBy($"cohort").agg(count(lit(1)).as("n_users"))
      .persistTracked()
    val maxDay = ev.agg(max($"day").as("max_day"))
    val ages = rev.select($"age").distinct()
    val obs = ages.crossJoin(broadcast(maxDay))
      .join(sizes, $"cohort" <= $"max_day" - $"age")
      .groupBy($"age")
      .agg(count(lit(1)).as("n_cohorts_obs"), sum($"n_users").as("users_obs"))
    val cum = ages.as("g").crossJoin(broadcast(maxDay))
      .join(rev.as("r"),
        $"r.cohort" <= $"max_day" - $"g.age" && $"r.age" <= $"g.age")
      .groupBy($"g.age".as("age"))
      .agg(sum($"r.r").as("cum_rev"))
    obs.join(cum, Seq("age"), "left")
      .select($"age", $"n_cohorts_obs", $"users_obs",
        expr("cast(coalesce(cum_rev, 0) div users_obs as bigint)")
          .as("ltv_cents_per_user"))
      .orderBy($"age")
  }
  val q262Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS day, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM events),
      |cohorts AS (
      |  SELECT user_id, MIN(day) AS cohort FROM ev GROUP BY 1),
      |j AS (
      |  SELECT ev.user_id, day, event_type, vc, cohort, day - cohort AS age
      |  FROM ev JOIN cohorts USING (user_id)),
      |rev AS (
      |  SELECT cohort, age, CAST(SUM(vc) AS BIGINT) AS r
      |  FROM j WHERE event_type = 'purchase' GROUP BY 1, 2),
      |sizes AS (
      |  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
      |  FROM cohorts GROUP BY 1),
      |m AS (SELECT MAX(day) AS max_day FROM ev),
      |ages AS (SELECT DISTINCT age FROM rev),
      |obs AS (
      |  SELECT a.age, CAST(COUNT(*) AS BIGINT) AS n_cohorts_obs,
      |    CAST(SUM(n_users) AS BIGINT) AS users_obs
      |  FROM ages a, m JOIN sizes s ON s.cohort <= max_day - a.age
      |  GROUP BY 1),
      |cum AS (
      |  SELECT a.age, CAST(SUM(r.r) AS BIGINT) AS cum_rev
      |  FROM ages a, m JOIN rev r
      |    ON r.cohort <= max_day - a.age AND r.age <= a.age
      |  GROUP BY 1)
      |SELECT age, n_cohorts_obs, users_obs,
      |  CAST(COALESCE(cum_rev, 0) // users_obs AS BIGINT)
      |    AS ltv_cents_per_user
      |FROM obs LEFT JOIN cum USING (age)
      |ORDER BY age""".stripMargin

  // --- q323: l-diversity audit (k-anonymity's sensitive-attribute twin) ----
  // q265 grades re-identification risk by equivalence-class SIZE; this
  // grades what an attacker LEARNS once a class is located: per
  // quasi-identifier group (priority × order-year), the number of
  // distinct sensitive values (the buying customer's market segment) and
  // the entropy of their distribution. Distinct-l is exact integers;
  // entropy follows the q106 convention — each −p·ln(p) term snapped to
  // the 1e-9 integer grid before the sum, so the aggregate is exact long
  // arithmetic (ln agrees between engines far beyond 9 decimals at these
  // magnitudes). The meets_l3 release gate is a pure integer predicate.
  // Two key-bounded aggregations over one join — the fact table shuffles
  // once on the QI key.
  def q323(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cls = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .select($"o_orderpriority".as("prio"), year($"o_orderdate").as("yr"),
        $"c_mktsegment".as("seg"))
      .groupBy($"prio", $"yr", $"seg").agg(count(lit(1)).as("cnt"))
    val grp = cls.groupBy($"prio", $"yr")
      .agg(sum($"cnt").as("n"), count(lit(1)).as("l_distinct"))
    cls.join(grp, Seq("prio", "yr"))
      .withColumn("p", $"cnt" * lit(1.0) / $"n")
      .withColumn("e9", round(lit(-1e9) * $"p" * log($"p")).cast("long"))
      .groupBy($"prio", $"yr")
      .agg(min($"n").as("n_rows"), min($"l_distinct").as("l_distinct"),
        sum($"e9").as("ent_e9"))
      .select($"prio", $"yr", $"n_rows", $"l_distinct",
        ($"ent_e9".cast("double") / 1e9).as("entropy_nats"),
        ($"l_distinct" >= 3).as("meets_l3"))
      .orderBy($"prio", $"yr")
  }
  val q323Sql: String =
    """WITH cls AS (
      |  SELECT o_orderpriority AS prio, year(o_orderdate) AS yr,
      |    c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3),
      |grp AS (
      |  SELECT prio, yr, CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS l_distinct
      |  FROM cls GROUP BY 1, 2),
      |terms AS (
      |  SELECT cls.prio, cls.yr, grp.n, grp.l_distinct,
      |    CAST(round(-1e9 * (cnt * 1.0 / n) * ln(cnt * 1.0 / n)) AS BIGINT) AS e9
      |  FROM cls JOIN grp ON cls.prio = grp.prio AND cls.yr = grp.yr)
      |SELECT prio, yr, MIN(n) AS n_rows, MIN(l_distinct) AS l_distinct,
      |  CAST(SUM(e9) AS DOUBLE) / 1e9 AS entropy_nats,
      |  MIN(l_distinct) >= 3 AS meets_l3
      |FROM terms
      |GROUP BY prio, yr
      |ORDER BY prio, yr""".stripMargin

  // --- q333: Markov removal-effect attribution ------------------------------
  // The attribution model q257's position rules cannot express: a
  // first-order Markov chain over channel journeys (START → channels →
  // CONV/NULL, truncated at the first conversion), absorption
  // probability computed by 20 unrolled fixed-point iterations on the
  // exact 1e-9 integer grid (the q143 convention — every step is
  // Σcnt·p9 div out + conv9, pure non-negative integer arithmetic, so
  // trunc-vs-floor never bites and both engines agree bitwise), and each
  // channel's REMOVAL EFFECT = how much P(conv from START) drops when
  // that state is forced dead. All six scenarios (full + 5 removals)
  // ride ONE (scenario, state) keyed frame through the same iteration.
  //
  // Scale shape: the corpus pays one user-keyed shuffle (journey
  // windows) + one transition-count aggregation; everything after is
  // states²×scenarios ≤ dozens of rows, eagerly localCheckpointed per
  // round (the BPE/PageRank bounded-driver-loop precedent).
  def q333(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val iters = 20
    val wU = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val kept = Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prior_purch", count(when($"event_type" === "purchase", 1))
        .over(wU.rowsBetween(Window.unboundedPreceding, -1)))
      .filter($"prior_purch" === 0)
      .persistTracked() // channel rows + conversion flags + no-channel users
    val conv = kept.filter($"event_type" === "purchase")
      .select($"user_id").distinct().persistTracked()
    val chan = kept.filter($"event_type" =!= "purchase")
      .withColumn("nxt", lead($"event_type", 1).over(wU))
      .withColumn("rn", row_number().over(wU))
      .persistTracked()
    val e1 = chan.filter($"rn" === 1)
      .select(lit("START").as("src"), $"event_type".as("dst"))
    val e2 = chan.filter($"nxt".isNotNull)
      .select($"event_type".as("src"), $"nxt".as("dst"))
    val e3 = chan.filter($"nxt".isNull)
      .join(conv.withColumn("cv", lit(1)), Seq("user_id"), "left")
      .select($"event_type".as("src"),
        when($"cv" === 1, lit("CONV")).otherwise(lit("NULL")).as("dst"))
    val e4 = conv.join(chan.select($"user_id").distinct(), Seq("user_id"),
        "left_anti")
      .select(lit("START").as("src"), lit("CONV").as("dst"))
    val trans = e1.unionByName(e2).unionByName(e3).unionByName(e4)
      .groupBy($"src", $"dst").agg(count(lit(1)).as("cnt"))
      .persistTracked() // out/conv9/scenario expansion all read it
    val outs = trans.groupBy($"src").agg(sum($"cnt").as("out"))
    val conv9 = trans.filter($"dst" === "CONV")
      .select($"src", $"cnt".as("cconv"))
    val channels = trans.select($"src".as("channel")).distinct()
      .filter($"channel" =!= "START")
    val scenarios = channels.select($"channel".as("scenario"))
      .unionByName(Seq("full").toDF("scenario"))
    val transSc = trans
      .join(outs, "src")
      .join(conv9, Seq("src"), "left")
      .withColumn("conv9",
        expr("coalesce(cconv, 0L) * 1000000000 div out"))
      .crossJoin(broadcast(scenarios))
      .select($"scenario", $"src", $"dst", $"cnt", $"out", $"conv9")
    // The fixed point runs DRIVER-SIDE over the collected transition
    // matrix — bounded by scenarios × states² (≤ ~300 rows however large
    // the corpus; the driver state IS the model, the q275-BPE precedent).
    // A DataFrame loop paid 20 eager-checkpoint jobs of fixed overhead on
    // ≤ 42-row frames (5.6s at sf0.1); the same exact-integer arithmetic
    // in Scala longs is ~free, and all values are non-negative so Long
    // division ≡ both engines' integral div.
    val m = transSc.collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    }
    val results = m.map(_._1).distinct.sorted.map { scen =>
      val edges = m.filter(_._1 == scen)
      val srcs = edges.map(_._2).distinct
      val outM = edges.groupBy(_._2).map { case (s, es) => s -> es.head._5 }
      val convM = edges.groupBy(_._2).map { case (s, es) => s -> es.head._6 }
      var p = srcs.map(_ -> 0L).toMap
      for (_ <- 0 until iters) {
        p = srcs.map { st =>
          st -> (if (st == scen) 0L
          else edges.filter(_._2 == st)
            .map { case (_, _, dst, cnt, _, _) => cnt * p.getOrElse(dst, 0L) }
            .sum / outM(st) + convM(st))
        }.toMap
      }
      (scen, p.getOrElse("START", 0L))
    }.toMap
    val pFull9 = results("full")
    results.toSeq.filterNot(_._1 == "full").sortBy(_._1).map {
      case (channel, pr9) =>
        // den = 0 → NULL (q159's convention): a corpus with zero
        // conversions has no attribution to split, not a crash.
        val ppm: Option[Long] =
          if (pFull9 == 0L) None
          else Some((BigInt(math.max(pFull9 - pr9, 0L)) * 1000000 /
            BigInt(pFull9)).toLong)
        (channel, pFull9.toDouble / 1e9, pr9.toDouble / 1e9, ppm)
    }.toDF("channel", "p_conv_full", "p_conv_removed", "removal_ppm")
      .orderBy($"channel")
  }
  val q333Sql: String = {
    val iterCtes = (1 to 20).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT t.scenario, t.src AS state,
         |    CASE WHEN t.src = t.scenario THEN 0
         |      ELSE CAST(SUM(t.cnt * COALESCE(p.p9, 0)) // MIN(t.out)
         |           + MIN(t.conv9) AS BIGINT)
         |    END AS p9
         |  FROM transsc t LEFT JOIN p${i - 1} p
         |    ON p.scenario = t.scenario AND p.state = t.dst
         |  GROUP BY t.scenario, t.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH kept AS MATERIALIZED (
      |  SELECT user_id, ts, event_id, event_type
      |  FROM (
      |    SELECT *,
      |      COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
      |        PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_purch
      |    FROM events)
      |  WHERE prior_purch = 0),
      |conv AS MATERIALIZED (
      |  SELECT DISTINCT user_id FROM kept WHERE event_type = 'purchase'),
      |chan AS MATERIALIZED (
      |  SELECT user_id, event_type,
      |    LEAD(event_type) OVER w AS nxt,
      |    ROW_NUMBER() OVER w AS rn
      |  FROM kept WHERE event_type <> 'purchase'
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |edges AS (
      |  SELECT 'START' AS src, event_type AS dst FROM chan WHERE rn = 1
      |  UNION ALL
      |  SELECT event_type, nxt FROM chan WHERE nxt IS NOT NULL
      |  UNION ALL
      |  SELECT c.event_type,
      |    CASE WHEN v.user_id IS NOT NULL THEN 'CONV' ELSE 'NULL' END
      |  FROM chan c LEFT JOIN conv v ON c.user_id = v.user_id
      |  WHERE c.nxt IS NULL
      |  UNION ALL
      |  SELECT 'START', 'CONV' FROM conv v
      |  WHERE NOT EXISTS (SELECT 1 FROM chan c WHERE c.user_id = v.user_id)),
      |trans AS MATERIALIZED (
      |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM edges GROUP BY 1, 2),
      |outs AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS "out" FROM trans GROUP BY 1),
      |cv AS (SELECT src, cnt AS cconv FROM trans WHERE dst = 'CONV'),
      |scen AS (
      |  SELECT DISTINCT src AS scenario FROM trans WHERE src <> 'START'
      |  UNION ALL SELECT 'full'),
      |transsc AS MATERIALIZED (
      |  SELECT scen.scenario, t.src, t.dst, t.cnt, o."out",
      |    CAST(COALESCE(cv.cconv, 0) * 1000000000 // o."out" AS BIGINT) AS conv9
      |  FROM trans t
      |  JOIN outs o ON t.src = o.src
      |  LEFT JOIN cv ON t.src = cv.src
      |  CROSS JOIN scen),
      |p0 AS MATERIALIZED (
      |  SELECT DISTINCT scenario, src AS state, CAST(0 AS BIGINT) AS p9
      |  FROM transsc),
      |$iterCtes,
      |pfull AS (
      |  SELECT p9 AS p_full9 FROM p20
      |  WHERE scenario = 'full' AND state = 'START')
      |SELECT scenario AS channel,
      |  CAST(p_full9 AS DOUBLE) / 1e9 AS p_conv_full,
      |  CAST(p9 AS DOUBLE) / 1e9 AS p_conv_removed,
      |  CAST(CASE WHEN p_full9 = 0 THEN NULL
      |    ELSE CAST(greatest(p_full9 - p9, 0) AS HUGEINT) * 1000000 // p_full9
      |    END AS BIGINT) AS removal_ppm
      |FROM p20 CROSS JOIN pfull
      |WHERE scenario <> 'full' AND state = 'START'
      |ORDER BY channel""".stripMargin
  }

  // --- q334: exact Shapley-value attribution --------------------------------
  // q333's order-independent companion — the cooperative-game credit
  // split over channel COALITIONS: v(S) = observed conversion rate of
  // users whose touched-channel set is exactly S (unobserved coalitions
  // contribute 0 — the standard data-driven convention), and
  // φ(c) = Σ_{S∌c} |S|!(k−|S|−1)!/k! · (v(S∪c) − v(S)). Rather than
  // enumerating the 2^k powerset, each OBSERVED coalition T contributes
  // exactly once in each role — +w(|T|−1)·v(T) to every c ∈ T and
  // −w(|T|)·v(T) to every c ∉ T — so the whole computation is one
  // (coalitions × channels) join over the coalition table. Weights are
  // exact integers (factorial() in both engines) on the 1e-9 grid,
  // rates v9 exact integer divisions, and the signed term sum stays in
  // decimal(38,0)/HUGEINT until ONE correctly-rounded cast to double —
  // no integral division ever sees a negative operand (the
  // trunc-vs-floor trap). Corpus cost: the same one user-keyed shuffle
  // as q333 + a coalition aggregation; everything after is ≤ 2^k rows.
  def q334(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.CacheLifecycle.TrackedPersistOps
    val wU = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val kept = Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prior_purch", count(when($"event_type" === "purchase", 1))
        .over(wU.rowsBetween(Window.unboundedPreceding, -1)))
      .filter($"prior_purch" === 0)
      .persistTracked()
    val conv = kept.filter($"event_type" === "purchase")
      .select($"user_id").distinct()
    val masks = kept.filter($"event_type" =!= "purchase")
      .groupBy($"user_id")
      .agg(concat_ws(",", array_sort(collect_set($"event_type"))).as("mask"))
    val coal = kept.select($"user_id").distinct()
      .join(masks, Seq("user_id"), "left")
      .withColumn("mask", coalesce($"mask", lit("")))
      .join(conv.withColumn("cv", lit(1)), Seq("user_id"), "left")
      .groupBy($"mask")
      .agg(count(lit(1)).as("n"), sum(coalesce($"cv", lit(0))).as("nc"))
      .withColumn("v9", expr("nc * 1000000000 div n"))
      .withColumn("sz", when($"mask" === "", lit(0))
        .otherwise(size(split($"mask", ","))))
      .persistTracked() // channel cross-join + k both read it
    val channels = kept.filter($"event_type" =!= "purchase")
      .select($"event_type".as("channel")).distinct()
    val k = channels.agg(count(lit(1)).as("k"))
    coal.crossJoin(broadcast(channels)).crossJoin(broadcast(k))
      .withColumn("member", array_contains(split($"mask", ","), $"channel"))
      .withColumn("term", expr(
        """CASE WHEN member THEN
          |  cast(factorial(greatest(sz - 1, 0)) * factorial(greatest(k - sz, 0))
          |       * 1000000000 div factorial(k) as decimal(38,0)) * v9
          |ELSE
          |  -cast(factorial(sz) * factorial(greatest(k - sz - 1, 0))
          |        * 1000000000 div factorial(k) as decimal(38,0)) * v9
          |END""".stripMargin))
      .groupBy($"channel")
      .agg(sum(when($"member", $"n").otherwise(lit(0L))).as("n_touched_users"),
        sum($"term").as("phi18"))
      .select($"channel", $"n_touched_users",
        ($"phi18".cast("double") / 1e18).as("shapley"))
      .orderBy($"channel")
  }
  val q334Sql: String =
    """WITH kept AS MATERIALIZED (
      |  SELECT user_id, ts, event_id, event_type
      |  FROM (
      |    SELECT *,
      |      COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) OVER (
      |        PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_purch
      |    FROM events)
      |  WHERE prior_purch = 0),
      |conv AS (SELECT DISTINCT user_id FROM kept WHERE event_type = 'purchase'),
      |masks AS (
      |  SELECT user_id,
      |    array_to_string(list_sort(list(DISTINCT event_type)), ',') AS mask
      |  FROM kept WHERE event_type <> 'purchase' GROUP BY user_id),
      |coal AS (
      |  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cv) AS BIGINT) AS nc,
      |    CAST(SUM(cv) * 1000000000 // COUNT(*) AS BIGINT) AS v9,
      |    CASE WHEN mask = '' THEN 0 ELSE len(string_split(mask, ',')) END AS sz
      |  FROM (
      |    SELECT u.user_id, COALESCE(m.mask, '') AS mask,
      |      CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS cv
      |    FROM (SELECT DISTINCT user_id FROM kept) u
      |    LEFT JOIN masks m ON u.user_id = m.user_id
      |    LEFT JOIN conv c ON u.user_id = c.user_id)
      |  GROUP BY mask),
      |chans AS (
      |  SELECT DISTINCT event_type AS channel FROM kept
      |  WHERE event_type <> 'purchase'),
      |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM chans),
      |terms AS (
      |  SELECT chans.channel, coal.n, coal.v9,
      |    list_contains(string_split(coal.mask, ','), chans.channel) AS member,
      |    CASE WHEN list_contains(string_split(coal.mask, ','), chans.channel) THEN
      |      CAST(factorial(CAST(greatest(sz - 1, 0) AS INT))
      |        * factorial(CAST(greatest(k - sz, 0) AS INT))
      |        * 1000000000 // factorial(CAST(k AS INT)) AS HUGEINT) * v9
      |    ELSE
      |      -CAST(factorial(CAST(sz AS INT))
      |        * factorial(CAST(greatest(k - sz - 1, 0) AS INT))
      |        * 1000000000 // factorial(CAST(k AS INT)) AS HUGEINT) * v9
      |    END AS term
      |  FROM coal CROSS JOIN chans CROSS JOIN kk)
      |SELECT channel,
      |  CAST(SUM(CASE WHEN member THEN n ELSE 0 END) AS BIGINT) AS n_touched_users,
      |  CAST(SUM(term) AS DOUBLE) / 1e18 AS shapley
      |FROM terms
      |GROUP BY channel
      |ORDER BY channel""".stripMargin

  // --- q337: empirical-Bayes shrinkage of per-item rates ---------------------
  // The cold-start estimator a ranking/quality system applies before an
  // item has traffic: per-part return rates shrunk toward a Beta prior
  // fit by method of moments across parts — shrunk = (k+α)/(n+α+β), so
  // low-n items pull to the corpus mean and high-n items keep their data.
  // Exactness: per-part rates snap to the 1e-9 integer grid (exact
  // divisions), the across-part mean/variance numerators are exact
  // decimal integers, and the MoM chain (m(1−m)/v − 1 etc.) is ONE fixed
  // IEEE op order stated identically in both engines, snapped at output.
  // One fact shuffle (per-part counts); the prior fit is a one-row
  // aggregate broadcast back over the part-level table.
  def q337(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val parts = Tables.lineitem(s, d)
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("k"))
      .withColumn("rate9", expr("k * 1000000000 div n"))
    val mom = parts.agg(
        count(lit(1)).as("p"),
        sum($"rate9").as("sr"),
        sum($"rate9".cast("decimal(38,0)") * $"rate9").as("sr2"))
      .select($"p",
        ($"sr".cast("double") / $"p" / 1e9).as("m"),
        (($"sr2" * $"p" - $"sr".cast("decimal(38,0)") * $"sr").cast("double")
          / $"p" / $"p" / 1e18).as("v"))
      .select($"p", $"m", $"v",
        when($"v" > 0, $"m" * (lit(1.0) - $"m") / $"v" - 1.0)
          .otherwise(lit(null).cast("double")).as("ab"))
      .select($"m", $"ab", ($"m" * $"ab").as("alpha"))
    parts.filter($"n" >= 5)
      .crossJoin(broadcast(mom))
      .select($"l_partkey", $"n", $"k",
        round($"rate9".cast("double") / 1e9, 6).as("raw_rate"),
        when($"ab" > 0,
          round(($"k" + $"alpha") / ($"n" + $"ab"), 6))
          .otherwise(lit(null).cast("double")).as("shrunk_rate"),
        round($"alpha", 6).as("alpha"),
        round($"ab" - $"alpha", 6).as("beta"))
      .orderBy($"l_partkey")
  }
  val q337Sql: String =
    """WITH parts AS (
      |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      * 1000000000 // COUNT(*) AS BIGINT) AS rate9
      |  FROM lineitem GROUP BY 1),
      |mom AS (
      |  SELECT m, ab, m * ab AS alpha FROM (
      |    SELECT p, m, v,
      |      CASE WHEN v > 0 THEN m * (1.0 - m) / v - 1.0 ELSE NULL END AS ab
      |    FROM (
      |      SELECT CAST(COUNT(*) AS BIGINT) AS p,
      |        CAST(SUM(rate9) AS DOUBLE) / COUNT(*) / 1e9 AS m,
      |        CAST(SUM(CAST(rate9 AS HUGEINT) * rate9) * COUNT(*)
      |          - CAST(SUM(rate9) AS HUGEINT) * SUM(rate9) AS DOUBLE)
      |          / COUNT(*) / COUNT(*) / 1e18 AS v
      |      FROM parts)))
      |SELECT l_partkey, n, k,
      |  ROUND(CAST(rate9 AS DOUBLE) / 1e9, 6) AS raw_rate,
      |  CASE WHEN ab > 0 THEN ROUND((k + alpha) / (n + ab), 6)
      |       ELSE NULL END AS shrunk_rate,
      |  ROUND(alpha, 6) AS alpha,
      |  ROUND(ab - alpha, 6) AS beta
      |FROM parts CROSS JOIN mom
      |WHERE n >= 5
      |ORDER BY l_partkey""".stripMargin

  // --- q338: ABC / Pareto revenue classification ------------------------------
  // The classic warehouse stratification: parts ranked by exact-decimal
  // revenue, cumulative share classes A (≤70%), B (≤90%), C (rest) —
  // class boundaries decided by DECIMAL CROSS-MULTIPLICATION
  // (cum·10 ≤ total·7), never a floating share, so membership is exact.
  // The ranked cumsum runs over the PART dimension (bounded — the fact
  // table reduces in one revenue aggregation first); ties broken by part
  // key. Output: per class, the part count, revenue, and exact ppm share.
  def q338(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, d)
      .groupBy($"l_partkey")
      .agg(sum(money($"l_extendedprice")).as("rev"))
    val w = Window.orderBy($"rev".desc, $"l_partkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = rev.agg(sum($"rev").as("total"))
    rev.withColumn("cum", sum($"rev").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when($"cum" * 10 <= $"total" * 7, lit("A"))
          .when($"cum" * 10 <= $"total" * 9, lit("B"))
          .otherwise(lit("C")))
      .groupBy($"cls")
      .agg(count(lit(1)).as("n_parts"),
        sum($"rev").as("crev"))
      .crossJoin(broadcast(tot))
      .select($"cls", $"n_parts", $"crev".cast("double").as("class_rev"),
        // ×1e8 / ×100 clears the 2-decimal cents on BOTH sides before the
        // integral casts (a fractional decimal→integer cast rounds in
        // DuckDB but truncates in Spark); the ratio is unchanged.
        expr("cast(cast(crev * 100000000 as decimal(38,0)) div cast(total * 100 as decimal(38,0)) as bigint)")
          .as("rev_share_ppm"))
      .orderBy($"cls")
  }
  val q338Sql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS rev
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT SUM(rev) AS total FROM rev),
      |ranked AS (
      |  SELECT l_partkey, rev, total,
      |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM rev CROSS JOIN tot),
      |classed AS (
      |  SELECT *,
      |    CASE WHEN cum * 10 <= total * 7 THEN 'A'
      |         WHEN cum * 10 <= total * 9 THEN 'B'
      |         ELSE 'C' END AS cls
      |  FROM ranked)
      |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(rev) AS DOUBLE) AS class_rev,
      |  CAST(CAST(SUM(rev) * 100000000 AS HUGEINT) // CAST(MIN(total) * 100 AS HUGEINT)
      |    AS BIGINT) AS rev_share_ppm
      |FROM classed
      |GROUP BY cls
      |ORDER BY cls""".stripMargin

  // --- q324: declarative data-contract validation ---------------------------
  // The reference's Soda checks (include/soda/checks.yml:1-9) generalized
  // to a multi-rule contract evaluated in ONE scan: not-null, uniqueness,
  // accepted values, range, format regex, and date bounds over orders,
  // each emitting (checked, violations, pass). All six violation counters
  // are conditional aggregates inside a single partial+final
  // HashAggregate — contract breadth costs nothing extra at 100 TB — and
  // stack() unpivots the one aggregate row into the per-rule report
  // (q116's table-profile shape). Pure integer counts; the regex is
  // identical Java/RE2-compatible syntax in both engines.
  def q324(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = Tables.orders(s, d).agg(
      count(lit(1)).as("n"),
      sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("v1"),
      (count(lit(1)) - countDistinct($"o_orderkey")).as("v2"),
      sum(when(!$"o_orderstatus".isin("F", "O", "P"), 1L).otherwise(0L)).as("v3"),
      sum(when($"o_totalprice".isNull || $"o_totalprice" <= 0, 1L)
        .otherwise(0L)).as("v4"),
      sum(when(!$"o_orderpriority".rlike("^[1-5]-"), 1L).otherwise(0L)).as("v5"),
      sum(when(!year($"o_orderdate").between(1992, 1998), 1L)
        .otherwise(0L)).as("v6"))
    a.select($"n".as("n_checked"), expr(
        """stack(6,
          |  'accepted_values_status', v3,
          |  'date_bounds_orderdate', v6,
          |  'format_priority', v5,
          |  'not_null_custkey', v1,
          |  'positive_totalprice', v4,
          |  'unique_orderkey', v2) as (rule, n_violations)""".stripMargin))
      .select($"rule", $"n_checked", $"n_violations",
        ($"n_violations" === 0).as("pass"))
      .orderBy($"rule")
  }
  val q324Sql: String =
    """WITH a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v2,
      |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS v3,
      |    CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v4,
      |    CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS v5,
      |    CAST(SUM(CASE WHEN year(o_orderdate) NOT BETWEEN 1992 AND 1998 THEN 1 ELSE 0 END) AS BIGINT) AS v6
      |  FROM orders)
      |SELECT rule, n AS n_checked, n_violations, n_violations = 0 AS pass
      |FROM (
      |  SELECT n, 'accepted_values_status' AS rule, v3 AS n_violations FROM a
      |  UNION ALL SELECT n, 'date_bounds_orderdate', v6 FROM a
      |  UNION ALL SELECT n, 'format_priority', v5 FROM a
      |  UNION ALL SELECT n, 'not_null_custkey', v1 FROM a
      |  UNION ALL SELECT n, 'positive_totalprice', v4 FROM a
      |  UNION ALL SELECT n, 'unique_orderkey', v2 FROM a)
      |ORDER BY rule""".stripMargin

  def pack: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q323_l_diversity", q323 _, Some(q323Sql)),
    ("q324_data_contract", q324 _, Some(q324Sql)),
    ("q333_markov_attribution", q333 _, Some(q333Sql)),
    ("q334_shapley_attribution", q334 _, Some(q334Sql)),
    ("q337_eb_shrinkage", q337 _, Some(q337Sql)),
    ("q338_abc_pareto", q338 _, Some(q338Sql)),
    ("q241_ucb1_arms", q241 _, Some(q241Sql)),
    ("q245_hhi_concentration", q245 _, Some(q245Sql)),
    ("q248_kaplan_meier", q248 _, Some(q248Sql)),
    ("q253_split_info_gain", q253 _, Some(q253Sql)),
    ("q254_woe_iv", q254 _, Some(q254Sql)),
    ("q255_gains_table", q255 _, Some(q255Sql)),
    ("q260_conformal_coverage", q260 _, Some(q260Sql)),
    ("q262_ltv_curve", q262 _, Some(q262Sql)),
    ("q267_median_of_means", q267 _, Some(q267Sql)),
    ("q269_isotonic_calibration", q269 _, Some(q269Sql)),
    ("q274_diff_in_diff", q274 _, Some(q274Sql)),
    ("q238_calibration_bins", q238 _, Some(q238Sql)),
    ("q219_bootstrap_ci", q219 _, Some(q219Sql)),
    ("q227_item_cf", q227 _, Some(q227Sql)),
    ("q229_modularity", q229 _, Some(q229Sql)),
    ("q232_bootstrap_ab_diff", q232 _, Some(q232Sql)),
    ("q235_rfm_segmentation", q235 _, Some(q235Sql)),
    ("q236_srm_check", q236 _, Some(q236Sql)),
    ("q220_mann_whitney", q220 _, Some(q220Sql)),
    ("q221_adamic_adar", q221 _, Some(q221Sql)),
    ("q222_assortativity", q222 _, Some(q222Sql)),
    ("q224_bradley_terry", q224 _, Some(q224Sql)),
    ("q196_label_propagation", q196 _, Some(q196Sql)),
    ("q199_personalized_pagerank", q199 _, Some(q199Sql)),
    ("q200_hits", q200 _, Some(q200Sql)),
    ("q195_copurchase_ivm", q195 _, Some(q195Sql)),
    ("q60_stat_aggs", q60 _, Some(q60Sql)),
    ("q61_sql_entry", q61 _, Some(q61Text)),
    ("q62_crypto_trend", q62 _, Some(q62Sql)),
    ("q63_approx_distinct", q63 _, Some(q63Sql)),
    ("q64_subqueries", q64 _, Some(q64Sql)),
    ("q65_in_subquery", q65 _, Some(q65Sql)),
    ("q66_percentiles", q66 _, Some(q66Sql)),
    ("q67_grouping_sets", q67 _, Some(q67Text)),
    ("q68_array_funcs", q68 _, Some(q68Sql)),
    ("q69_map_funcs", q69 _, Some(q69Sql)),
    ("q70_disjunctive_preds", q70 _, Some(q70Sql)),
    ("q71_cohort_retention", q71 _, Some(q71Sql)),
    ("q87_approx_percentile", q87 _, Some(q87Sql)),
    ("q142_market_basket", q142 _, Some(q142Sql)),
    ("q143_pagerank", q143 _, Some(q143Sql)),
    ("q144_skyline", q144 _, Some(q144Sql)),
    ("q145_graph_bfs", q145 _, Some(q145Sql)),
    ("q147_triangle_count", q147 _, Some(q147Sql)),
    ("q148_weighted_sssp", q148 _, Some(q148Sql)),
    ("q153_ab_contingency", q153 _, Some(q153Sql)),
    ("q154_ols_trend", q154 _, Some(q154Sql)),
    ("q160_cuped", q160 _, Some(q160Sql)),
    ("q166_wilson_ci", q166 _, Some(q166Sql)),
    ("q167_pagerank_dangling", q167 _, Some(q167Sql)),
    ("q284_assoc_rules", q284 _, Some(q284Sql)),
    ("q285_harmonic_centrality", q285 _, Some(q285Sql)),
    ("q169_kcore", q169 _, Some(q169Sql)),
    ("q170_connected_components", q170 _, Some(q170Sql)),
    ("q171_clustering_coeff", q171 _, Some(q171Sql)),
    ("q185_frequent_triples", q185 _, Some(q185Sql)))
}
