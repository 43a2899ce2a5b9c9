package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end batch pipeline — the Spark re-expression of the reference DAG
  * (/root/reference/dags/crypto-etl-pipeline-psql.py:133-200).
  *
  * The reference's six Airflow tasks (sensor → DDL → extract → transform →
  * load → quality gate) collapse into one lazy plan per run: the only
  * process boundaries left are driver↔executors (SURVEY.md §3.1). Stage
  * isolation, where wanted, is a parquet checkpoint — not XCom row
  * shuttling.
  *
  * Scheduling/retry (A11) stays outside the engine: cron-invoked batch runs
  * or `Trigger.AvailableNow` streaming (see graft.streaming) replace the
  * hourly DAG schedule; `spark.task.maxFailures` plus an app-level retry
  * wrapper replace Airflow task retries.
  */
object Pipeline {

  final case class RunResult(rowsInserted: Long, gate: QualityGate.GateResult,
      table: DataFrame)

  /** One pipeline run: parse+pivot a raw payload, stamp the batch
    * timestamp, upsert into the warehouse table, evaluate the gate on the
    * metrics the upsert's pass yields (no second scan of the table).
    *
    * @param probe availability pre-flight (A1); aborts before any data work
    *              when the source is down, like the reference's HttpSensor.
    */
  def run(spark: SparkSession, rawJson: String, batchTs: Timestamp,
      tablePath: String, now: Timestamp,
      probe: () => Boolean = () => true): RunResult = {
    if (!Ingest.preflight(probe, attempts = 1, delayMillis = 0L))
      throw new IllegalStateException("source unavailable (pre-flight failed)")
    val batch = Ingest.pivotPrices(spark, rawJson, batchTs)
    val (inserted, metrics) = Upsert.intoParquetGated(spark, batch, tablePath,
      Schemas.priceKeys, "price_usd", "extracted_at")
    val gate = QualityGate.enforce(metrics, now)
    RunResult(inserted, gate, Upsert.readTable(spark, tablePath, batch.schema))
  }
}
