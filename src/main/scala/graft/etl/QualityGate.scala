package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Data-quality gate (reference operators A9/A10).
  *
  * Re-expresses the Soda checks at /root/reference/include/soda/checks.yml:
  *   - min(price_usd) >= 0, else FAIL (aborts the pipeline, enforcement at
  *     /root/reference/dags/crypto-etl-pipeline-psql.py:129-130)
  *   - freshness(extracted_at): WARN when > 2h stale, FAIL when > 6h stale
  * plus the PK-uniqueness invariant the Postgres DDL enforced implicitly.
  *
  * Everything is one grouped aggregation over one scan of the table (no
  * per-check scans — Soda issues one SQL query per check; here the min,
  * freshness, row-count and duplicate-key metrics fuse into one plan). A
  * pipeline tick does not even scan: the upsert's grouped pass already
  * yields the four metrics of the table it leaves ([[Upsert]]).
  * `now` is an explicit parameter so runs are reproducible and
  * oracle-checkable.
  */
object QualityGate {

  sealed trait GateResult { def message: String }
  case object Pass extends GateResult { val message = "pass" }
  final case class Warn(message: String) extends GateResult
  final case class Fail(message: String) extends GateResult

  final case class Metrics(minPrice: Option[Double], maxExtractedAt: Option[Timestamp],
      rowCount: Long, duplicateKeys: Long)

  /** The gate metrics from a row of (min value, max timestamp, row count,
    * duplicate-key count). The row count is null on an empty table (a sum
    * over no groups). */
  private[etl] def metrics(row: Row): Metrics = Metrics(
    // through Number: a REAL (float) value column yields a Float
    if (row.isNullAt(0)) None else Some(row.getAs[Number](0).doubleValue),
    Option(row.getTimestamp(1)),
    if (row.isNullAt(2)) 0L else row.getLong(2), row.getLong(3))

  /** All four metrics in one grouped aggregation over one scan: the
    * per-key pass yields each key's min, max and row count, and the global
    * pass folds them into the table's min, max, row count and number of
    * keys held by more than one row. */
  private def ag(df: DataFrame, valueCol: String, tsCol: String,
      keys: Seq[String]): Metrics =
    metrics(df.groupBy(keys.map(col): _*)
      .agg(min(col(valueCol)).as("min_v"), max(col(tsCol)).as("max_ts"),
        count(lit(1)).as("c"))
      .agg(min(col("min_v")), max(col("max_ts")), sum(col("c")),
        count(when(col("c") > 1, 1)))
      .head())

  /** The freshness rung of the ladder: whole hours since `newest` (no
    * timestamp at all is maximally stale) against the reference's WARN and
    * FAIL thresholds. */
  def freshness(newest: Option[Timestamp], now: Timestamp,
      warnAfterHours: Long, failAfterHours: Long): GateResult = {
    val staleHours = newest
      .map(ts => (now.getTime - ts.getTime) / 3600000L).getOrElse(Long.MaxValue)
    if (staleHours > failAfterHours)
      Fail(s"stale: ${staleHours}h > ${failAfterHours}h")
    else if (staleHours > warnAfterHours)
      Warn(s"stale: ${staleHours}h > ${warnAfterHours}h")
    else Pass
  }

  /** Severity ladder identical to the reference: Fail trumps Warn trumps
    * Pass. */
  private def verdict(m: Metrics, now: Timestamp, valueCol: String,
      keys: Seq[String], warnAfterHours: Long, failAfterHours: Long,
      failBelowValue: Double): GateResult =
    if (m.rowCount == 0L) Fail("empty table")
    else if (m.minPrice.exists(_ < failBelowValue))
      Fail(s"min($valueCol) = ${m.minPrice.get} < $failBelowValue")
    else if (m.duplicateKeys > 0)
      Fail(s"${m.duplicateKeys} duplicate (${keys.mkString(",")}) keys")
    else freshness(m.maxExtractedAt, now, warnAfterHours, failAfterHours)

  /** Evaluate the gate over a table. */
  def evaluate(df: DataFrame, now: Timestamp,
      valueCol: String = "price_usd", tsCol: String = "extracted_at",
      keys: Seq[String] = Schemas.priceKeys,
      warnAfterHours: Long = 2, failAfterHours: Long = 6,
      failBelowValue: Double = 0.0): GateResult =
    verdict(ag(df, valueCol, tsCol, keys), now, valueCol, keys,
      warnAfterHours, failAfterHours, failBelowValue)

  /** Throw on Fail — the pipeline-abort semantics of the reference's
    * `raise` at dags/crypto-etl-pipeline-psql.py:129-130. Warn passes
    * through (reference logs and continues). */
  def enforce(df: DataFrame, now: Timestamp): GateResult = orThrow(evaluate(df, now))

  /** [[enforce]] over metrics already computed for the price table (the
    * upsert's own pass yields them), with [[evaluate]]'s defaults. */
  def enforce(m: Metrics, now: Timestamp): GateResult =
    orThrow(verdict(m, now, "price_usd", Schemas.priceKeys, 2, 6, 0.0))

  private def orThrow(r: GateResult): GateResult = r match {
    case f: Fail => throw new IllegalStateException(s"quality gate failed: ${f.message}")
    case r => r
  }

  /** The gate metrics as a one-row DataFrame — the oracle-checkable form,
    * and the shape a `df.observe()` listener would record in streaming. */
  def metricsDf(df: DataFrame, now: Timestamp, valueCol: Column, tsEpochS: Column,
      warnAfterHours: Long = 2, failAfterHours: Long = 6): DataFrame = {
    val nowS = now.getTime / 1000L
    df.agg(
      min(valueCol).as("min_value"),
      max(tsEpochS).as("max_epoch_s"),
      count(lit(1)).as("n_rows"))
      .select(
        col("min_value"), col("n_rows"),
        date_format(timestamp_seconds(col("max_epoch_s")), "yyyy-MM-dd HH:mm:ss")
          .as("max_ts"),
        // floor(double) rather than a long cast: Spark's cast truncates,
        // DuckDB's rounds — floor agrees in both engines.
        floor((lit(nowS) - col("max_epoch_s")) / 3600.0).cast("long").as("hours_stale"))
      .withColumn("status",
        when(col("min_value") < 0 || col("hours_stale") > failAfterHours, "fail")
          .when(col("hours_stale") > warnAfterHours, "warn")
          .otherwise("pass"))
  }
}
