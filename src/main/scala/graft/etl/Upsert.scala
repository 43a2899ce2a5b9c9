package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Idempotent insert-if-absent sink (reference operator A8).
  *
  * The reference loads with `INSERT ... ON CONFLICT (crypto_id,
  * extracted_at) DO NOTHING` in one transaction
  * (/root/reference/dags/crypto-etl-pipeline-psql.py:85-98). Vanilla Spark
  * sinks have no ON CONFLICT, so the idiomatic equivalent is
  * **left-anti-join then append**: new rows are those whose key has no match
  * in the existing table. Atomicity comes from the file-commit protocol of
  * the write job; concurrency control is single-writer per table (the
  * reference's linear DAG gives the same discipline — SURVEY.md §7 risk 1).
  *
  * Scale: the anti join shuffles both sides on the key — at 100 TB the
  * existing side should be partition-pruned first (prune to the key range /
  * date partitions the batch can touch, then anti-join); incoming batches
  * are tiny relative to the table and AQE turns the probe into a broadcast.
  */
object Upsert {

  /** Pure form: rows of `incoming` whose `keys` are absent from `existing`,
    * deduplicated within the batch (first occurrence wins, matching
    * ON CONFLICT DO NOTHING applied row-by-row).
    *
    * Null key values are DROPPED: the reference's target table declares the
    * key columns as a PRIMARY KEY (implicitly NOT NULL,
    * /root/reference/dags/crypto-etl-pipeline-psql.py:157-164), and SQL
    * null semantics would otherwise make a null-keyed row invisible to the
    * anti-join — re-appended on every replay, silently breaking the
    * idempotence contract.
    *
    * The existing keys are not deduplicated: a left-anti join returns the
    * same rows whether or not its right side repeats a key. */
  def newRows(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    incoming.na.drop("any", keys).dropDuplicates(keys)
      .join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** existing ∪ new — the post-upsert table contents. */
  def apply(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(newRows(existing, incoming, keys))

  /** Materializing form against a parquet table path: reads current state,
    * anti-joins, appends only the new rows. Serialized per table by
    * convention (single-writer). */
  def intoParquet(spark: SparkSession, incoming: DataFrame, tablePath: String,
      keys: Seq[String]): Long =
    antiJoinThenAppend(spark, incoming, tablePath, keys,
      pruneExisting = identity, write = _.write.mode("append").parquet(tablePath))

  /** Partition-pruned upsert against a date/key-partitioned table — the
    * 100 TB form of [[intoParquet]]: the existing side is read ONLY for the
    * partitions the incoming batch can touch, so the anti-join probes a few
    * partitions' worth of keys instead of the whole table. The batch's
    * partition values are collected on the driver (an hourly batch touches
    * 1-2 partitions; this is a handful of scalars, not data), turned into
    * an `isin` filter that planning-time partition pruning eliminates
    * directories with, and the append writes through the same partition
    * layout. `partitionCol` must be one of `keys` (or functionally derived
    * from them) or absence checks would be incomplete.
    */
  def intoPartitionedParquet(spark: SparkSession, incoming: DataFrame,
      tablePath: String, keys: Seq[String], partitionCol: String): Long = {
    require(keys.contains(partitionCol),
      s"partition column $partitionCol must be part of the upsert key")
    val touched = incoming.select(col(partitionCol)).distinct().collect()
      .map(_.get(0)).toSeq
    antiJoinThenAppend(spark, incoming, tablePath, keys,
      pruneExisting = _.filter(col(partitionCol).isin(touched: _*)),
      write = _.write.mode("append").partitionBy(partitionCol).parquet(tablePath))
  }

  /** Reads a table this sink writes, with the schema of the batches it
    * holds. Parquet schema inference is a Spark job of its own, and it
    * throws on a table directory that holds no data file yet (a crashed
    * first write leaves only _temporary/); an explicit schema skips the job
    * and reads such a directory as zero rows. */
  private[etl] def readTable(spark: SparkSession, tablePath: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(tablePath)

  private def antiJoinThenAppend(spark: SparkSession, incoming: DataFrame,
      tablePath: String, keys: Seq[String],
      pruneExisting: DataFrame => DataFrame,
      write: DataFrame => Unit): Long = {
    // Treat ONLY path-not-found as "empty table" — a corrupt/unreadable
    // existing table must abort, not silently re-append the whole batch.
    val existing =
      try pruneExisting(readTable(spark, tablePath, incoming.schema))
      catch { case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], incoming.schema)
      }
    // localCheckpoint truncates the plan lineage BEFORE the append: a
    // cache()-only approach can recompute evicted partitions mid-write,
    // re-reading tablePath while it is being appended to (double insert).
    // The row count rides along the checkpoint's job as an observed metric
    // instead of a second count() action.
    val counted = Observation()
    val fresh = newRows(existing, incoming, keys)
      .observe(counted, count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    val n = counted.get("n").asInstanceOf[Long]
    if (n > 0) write(fresh)
    n
  }
}
