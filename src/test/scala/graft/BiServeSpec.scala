package graft

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.BiServe

/** Live BI-endpoint parity (SURVEY.md §3.3): start the embedded Thrift
  * JDBC server, connect with the stock Hive JDBC driver — the same wire
  * protocol Metabase's Spark connector speaks — and prove that (a) the
  * catalog tables are discoverable through JDBC metadata and (b) a SQL
  * aggregate over JDBC returns exactly what the in-process DataFrame API
  * returns. */
class BiServeSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  test("Thrift JDBC endpoint serves catalog tables to a live BI client") {
    val sf = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS bi_documents")
    spark.sql("CREATE TABLE bi_documents USING parquet " +
      s"LOCATION '$sf/documents.parquet'")
    val endpoint = BiServe.start(spark)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val conn = DriverManager.getConnection(endpoint.jdbcUrl, "", "")
      try {
        // (a) BI discovery path: the table is visible via JDBC metadata.
        val tables = conn.getMetaData.getTables(null, null, "bi_documents", null)
        assert(tables.next(), "bi_documents not listed in JDBC metadata")

        // (b) query parity: identical SQL over JDBC vs in-process.
        val sql = "SELECT source, count(*) AS n, sum(length(text)) AS chars " +
          "FROM bi_documents GROUP BY source ORDER BY source"
        val rs = conn.createStatement().executeQuery(sql)
        val viaJdbc = Iterator.continually(rs)
          .takeWhile(_.next())
          .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
          .toVector
        val inProcess = spark.sql(sql).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toVector
        assert(viaJdbc == inProcess)
        assert(viaJdbc.nonEmpty)

        // (c) the global-temp-view serving form: tables without a catalog
        // entry, exposed as global_temp.<name>, visible across the
        // per-connection child sessions (plain temp views would not be).
        BiServe.exposeTables(spark, sf)
        val gtSql = "SELECT o_orderpriority, count(*) AS n " +
          "FROM global_temp.orders GROUP BY o_orderpriority " +
          "ORDER BY o_orderpriority"
        val gtJdbc = {
          val rs2 = conn.createStatement().executeQuery(gtSql)
          Iterator.continually(rs2).takeWhile(_.next())
            .map(r => (r.getString(1), r.getLong(2))).toVector
        }
        val gtDirect = Tables.orders(spark, sf)
          .groupBy(org.apache.spark.sql.functions.col("o_orderpriority")).count()
          .orderBy("o_orderpriority")
          .collect().map(r => (r.getString(0), r.getLong(1))).toVector
        assert(gtJdbc == gtDirect, s"endpoint diverges: $gtJdbc vs $gtDirect")
      } finally conn.close()
    } finally {
      endpoint.stop()
      spark.sql("DROP TABLE IF EXISTS bi_documents")
    }
  }

  test("the row-pattern funnel operator serves through the BI endpoint") {
    // The reference's Metabase entry point (README.md:98-106) must be
    // able to reach the SeqPattern operator: its output is exposed as a
    // global temp view (the standard BI serving pattern for operator
    // results a SQL text cannot express), and the wire results over the
    // stock Hive JDBC driver must equal the in-process DataFrame's.
    import spark.implicits._
    import graft.operators.SeqPattern
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, sf)
    val funnel = SeqPattern.funnel(ev, "user_id", "ts", Seq(
      SeqPattern.Step("1_signup", $"event_type" === "signup"),
      SeqPattern.Step("2_view_after_signup", $"event_type" === "view"),
      SeqPattern.Step("3_purchase_after_view", $"event_type" === "purchase")))
    funnel.createOrReplaceGlobalTempView("funnel_bi")
    val endpoint = BiServe.start(spark)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val conn = DriverManager.getConnection(endpoint.jdbcUrl, "", "")
      try {
        val sql = "SELECT step, n_users FROM global_temp.funnel_bi ORDER BY step"
        val rs = conn.createStatement().executeQuery(sql)
        val viaJdbc = Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getString(1), r.getLong(2))).toVector
        val inProcess = funnel
          .select($"step", $"n_users").orderBy($"step").collect()
          .map(r => (r.getString(0), r.getLong(1))).toVector
        assert(viaJdbc == inProcess,
          s"BI wire results diverge: $viaJdbc vs $inProcess")
        assert(viaJdbc.length == 3, s"expected 3 funnel steps: $viaJdbc")
        // funnel counts are monotone non-increasing by construction
        assert(viaJdbc(0)._2 >= viaJdbc(1)._2 && viaJdbc(1)._2 >= viaJdbc(2)._2,
          s"funnel not monotone over the wire: $viaJdbc")
      } finally conn.close()
    } finally endpoint.stop()
  }

  test("two simultaneous JDBC connections get isolated session state") {
    // The reference's Metabase entry point is inherently multi-client
    // (README.md:98-106). Each Thrift connection must get its own child
    // session: conflicting temp-view names and session confs on two live
    // connections must not bleed into each other or the host session.
    val endpoint = BiServe.start(spark)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val c1 = DriverManager.getConnection(endpoint.jdbcUrl, "", "")
      val c2 = DriverManager.getConnection(endpoint.jdbcUrl, "", "")
      try {
        def one(c: java.sql.Connection, sql: String): Long = {
          val rs = c.createStatement().executeQuery(sql)
          assert(rs.next()); rs.getLong(1)
        }
        // same temp-view NAME, conflicting definitions, both connections live
        c1.createStatement().execute(
          "CREATE TEMPORARY VIEW scratch AS SELECT 1 AS v")
        c2.createStatement().execute(
          "CREATE TEMPORARY VIEW scratch AS SELECT 100 AS v")
        // interleave reads: each connection must see ITS definition
        assert(one(c1, "SELECT sum(v) FROM scratch") == 1L,
          "connection 1 sees connection 2's temp view")
        assert(one(c2, "SELECT sum(v) FROM scratch") == 100L,
          "connection 2 sees connection 1's temp view")
        // per-connection conf must not leak across sessions
        c1.createStatement().execute("SET spark.sql.shuffle.partitions=2")
        c2.createStatement().execute("SET spark.sql.shuffle.partitions=7")
        assert(one(c1, "SELECT count(DISTINCT v) FROM scratch") == 1L)
        assert(one(c2, "SELECT sum(v) FROM scratch") == 100L,
          "connection 2's view lost after conf churn on connection 1")
        // the host session never saw either temp view
        assert(!spark.catalog.tableExists("scratch"),
          "client temp view leaked into the host session")
      } finally { c1.close(); c2.close() }
    } finally endpoint.stop()
  }
}
