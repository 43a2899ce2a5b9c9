package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.hive.service.cli.thrift.ThriftCLIService
import org.apache.hive.service.server.HiveServer2
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.SessionDefaults
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

import graft.GraftSession

/** Live BI serving endpoint (SURVEY.md §3.3 — the Metabase entry point).
  *
  * The reference exposes its Postgres warehouse to Metabase over JDBC
  * (/root/reference/docker-compose.yaml:111-118, README.md:98-106). The
  * Spark-native equivalent is the HiveServer2 Thrift JDBC/ODBC server
  * embedded in the running session: any BI tool with a Hive/Spark JDBC
  * driver (Metabase ships one) connects to `jdbc:hive2://host:port/` and
  * sees the session catalog — the same external parquet tables
  * [[Warehouse.ensureTable]] registers for the pipeline sinks.
  *
  * Scale note: the endpoint is a planning/serving surface only — queries
  * submitted over JDBC run through the same Catalyst/AQE path as
  * `spark.sql`, distributed across the cluster; the Thrift server adds no
  * data movement of its own beyond result collection to the driver, which
  * is the same contract every BI connection to every warehouse has.
  *
  * Each JDBC connection gets its own child session over the shared
  * catalog: temp views, SQLConf and `SET` stay per connection, matching
  * warehouse semantics (serve CATALOG tables, not session temp views).
  * The connections do share compiled code: [[start]] gives their sessions
  * [[graft.GraftSession.SharedCodeCache]]. With an artifact classloader
  * per session, every connection compiled every statement shape again
  * before its first run of it. Sharing the classloader also shares jars
  * added with `ADD JAR`, as on Spark 3's Thrift server, which had no
  * session isolation; the engine serves SQL over its catalog and adds no
  * session artifacts of its own.
  */
object BiServe {

  /** A started endpoint: the bound port (resolved when `port = 0`) and a
    * stop handle. (The concrete server class is `private[hive]` in Spark;
    * its public Java supertype carries the lifecycle.) */
  final case class Endpoint(server: HiveServer2, port: Int) {
    def jdbcUrl: String = s"jdbc:hive2://localhost:$port/default"
    def stop(): Unit = server.stop()
  }

  /** Register every testdata table as a global temp view, queryable from
    * any endpoint connection as `global_temp.<name>` — the lighter-weight
    * serving form for ad-hoc tables that have no catalog entry (global
    * temp views are visible across the per-connection child sessions;
    * plain temp views are not). */
  def exposeTables(spark: SparkSession, sfDir: String): Unit =
    graft.Tables.names.foreach { n =>
      val df = if (n == "events") graft.Tables.events(spark, sfDir)
        else graft.Tables.load(spark, sfDir, n)
      df.createOrReplaceGlobalTempView(n)
    }

  /** Start the Thrift JDBC server inside `spark`. `port = 0` binds an
    * ephemeral free port (the bound port is read back from the CLI
    * service, mirroring how Spark's own thriftserver tests resolve it).
    * The server reads its port and host from the session conf when it
    * starts; they are set for the start only, so `spark`'s conf is left
    * as it was. The connection sessions' shared code cache is a default
    * of the sessions derived from `spark` ([[SessionDefaults]]). */
  def start(spark: SparkSession, port: Int = 0,
      host: String = "localhost"): Endpoint = {
    val (key, value) = GraftSession.SharedCodeCache
    SessionDefaults.set(spark, key, value)
    val server = GraftSession.withConfs(spark, Seq(
        "hive.server2.thrift.port" -> port.toString,
        "hive.server2.thrift.bind.host" -> host)) {
      HiveThriftServer2.startWithSparkSession(spark, exitOnError = false)
    }
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var bound = 0
    while (bound == 0 && System.nanoTime() < deadline) {
      bound = server.getServices.asScala.collectFirst {
        case t: ThriftCLIService if t.getPortNumber != 0 => t.getPortNumber
      }.getOrElse(0)
      if (bound == 0) Thread.sleep(100)
    }
    require(bound != 0, "Thrift CLI service did not report a bound port")
    Endpoint(server, bound)
  }
}
