package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, classic}

/** Defaults for the sessions later derived from `spark` with
  * `newSession()`. A new session builds its SQLConf from the shared
  * state's conf (`SharedState.conf`, `private[sql]`); Spark has no public
  * hook for it. The BI endpoint needs one: the Thrift server opens each
  * JDBC connection's session with `newSession()`, and a conf read once
  * when a session first runs (artifact isolation) must be in place before
  * the connection's first statement. Setting it on the host session would
  * not reach the connections, and setting it per connection would need
  * every client to send it. The host session's own conf is untouched. */
object SessionDefaults {
  def set(spark: SparkSession, key: String, value: String): Unit =
    spark.asInstanceOf[classic.SparkSession].sharedState.conf.set(key, value)
}
