package graft.etl

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Idempotent insert-if-absent sink (reference operator A8).
  *
  * The reference loads with `INSERT ... ON CONFLICT (crypto_id,
  * extracted_at) DO NOTHING` in one transaction
  * (/root/reference/dags/crypto-etl-pipeline-psql.py:85-98). Vanilla Spark
  * sinks have no ON CONFLICT, so the equivalent is **absence check then
  * append**: new rows are those whose key has no match in the existing
  * table. The pure form [[newRows]] is a left-anti join; the parquet sinks
  * group the table and the batch by key in one pass instead, which also
  * yields the quality gate's metrics. Atomicity comes from the file-commit
  * protocol of the write job; concurrency control is single-writer per
  * table (the reference's linear DAG gives the same discipline — SURVEY.md
  * §7 risk 1).
  *
  * Scale: the pass shuffles the table's keys every tick — at 100 TB the
  * existing side should be partition-pruned first (prune to the key range /
  * date partitions the batch can touch, [[intoPartitionedParquet]]).
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
    * appends only the new rows. Serialized per table by convention
    * (single-writer). */
  def intoParquet(spark: SparkSession, incoming: DataFrame, tablePath: String,
      keys: Seq[String]): Long =
    groupThenAppend(spark, incoming, tablePath, keys, noGate, noGate,
      pruneExisting = identity, write = _.write.mode("append").parquet(tablePath))._1

  /** [[intoParquet]] that also returns the gate metrics of the table it
    * leaves, over `valueCol` and `tsCol`, from the same pass. */
  private[etl] def intoParquetGated(spark: SparkSession, incoming: DataFrame,
      tablePath: String, keys: Seq[String], valueCol: String,
      tsCol: String): (Long, QualityGate.Metrics) =
    groupThenAppend(spark, incoming, tablePath, keys, col(valueCol), col(tsCol),
      pruneExisting = identity, write = _.write.mode("append").parquet(tablePath))

  /** Partition-pruned upsert against a date/key-partitioned table — the
    * 100 TB form of [[intoParquet]]: the existing side is read ONLY for the
    * partitions the incoming batch can touch, so the pass groups a few
    * partitions' worth of keys instead of the whole table. The batch's
    * partition values are collected on the driver (an hourly batch touches
    * 1-2 partitions; this is a handful of scalars, not data), turned into
    * an `isin` filter that planning-time partition pruning eliminates
    * directories with, and the append writes through the same partition
    * layout. `partitionCol` must be one of `keys` (or functionally derived
    * from them) or absence checks would be incomplete. No gate metrics:
    * they would cover only the pruned partitions.
    */
  def intoPartitionedParquet(spark: SparkSession, incoming: DataFrame,
      tablePath: String, keys: Seq[String], partitionCol: String): Long = {
    require(keys.contains(partitionCol),
      s"partition column $partitionCol must be part of the upsert key")
    val touched = incoming.select(col(partitionCol)).distinct().collect()
      .map(_.get(0)).toSeq
    groupThenAppend(spark, incoming, tablePath, keys, noGate, noGate,
      pruneExisting = _.filter(col(partitionCol).isin(touched: _*)),
      write = _.write.mode("append").partitionBy(partitionCol).parquet(tablePath))._1
  }

  /** Reads a table this sink writes, with the schema of the batches it
    * holds. Parquet schema inference is a Spark job of its own, and it
    * throws on a table directory that holds no data file yet (a crashed
    * first write leaves only _temporary/); an explicit schema skips the job
    * and reads such a directory as zero rows. */
  private[etl] def readTable(spark: SparkSession, tablePath: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(tablePath)

  /** Gate column of a sink no gate reads. */
  private val noGate = lit(null).cast("double")

  private val Old = "__upsert_old"
  private val NOld = "__upsert_n_old"
  private val V = "__upsert_v"
  private val T = "__upsert_ts"
  private val MinV = "__upsert_min_v"
  private val MaxT = "__upsert_max_ts"

  /** The sink's one pass: `existing ∪ incoming`, each row tagged old or
    * new, grouped by key. Per key it yields the number of old rows, the old
    * rows' min `value` and max `ts`, and the first incoming row (each
    * column through `first`, which takes all columns from one row, as
    * `dropDuplicates` does; a fresh key's rows are all incoming, and old
    * rows carry only their keys, `value` and `ts`). The fresh rows are the
    * keys with no old row, so one exchange does both the absence check and
    * the batch dedup.
    *
    * After the append each key holds its old rows or exactly one fresh
    * row, so folding the per-key rows gives the gate metrics of the whole
    * table — min value, max timestamp, row count and keys held by more than
    * one row — exactly as [[QualityGate.evaluate]] computes them by reading
    * it again, duplicates from a foreign writer included. An `Observation`
    * on the grouped frame (before the fresh-row filter, so the checkpoint
    * consumes every group) carries them and the new-row count out of the
    * checkpoint's job. */
  private def groupThenAppend(spark: SparkSession, incoming: DataFrame,
      tablePath: String, keys: Seq[String], value: Column, ts: Column,
      pruneExisting: DataFrame => DataFrame,
      write: DataFrame => Unit): (Long, QualityGate.Metrics) = {
    // Treat ONLY path-not-found as "empty table" — a corrupt/unreadable
    // existing table must abort, not silently re-append the whole batch.
    val existing =
      try pruneExisting(readTable(spark, tablePath, incoming.schema))
      catch { case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], incoming.schema)
      }
    val rest = incoming.schema.filterNot(f => keys.contains(f.name))
    def tagged(df: DataFrame, isOld: Boolean, restCols: Seq[Column]) =
      df.select(keys.map(col) ++ Seq(lit(isOld).as(Old), value.as(V), ts.as(T)) ++
        restCols: _*)
    val old = col(Old)
    val byKey = tagged(existing, isOld = true,
        rest.map(f => lit(null).cast(f.dataType).as(f.name)))
      .union(tagged(incoming.na.drop("any", keys), isOld = false,
        rest.map(f => col(f.name))))
      .groupBy(keys.map(col): _*)
      .agg(count(when(old, 1)).as(NOld),
        Seq(min(when(old, col(V))).as(MinV), max(when(old, col(T))).as(MaxT)) ++
          (V +: T +: rest.map(_.name)).map(c => first(col(c)).as(c)): _*)
    val fresh = col(NOld) === 0
    // localCheckpoint truncates the plan lineage BEFORE the append: a
    // cache()-only approach can recompute evicted partitions mid-write,
    // re-reading tablePath while it is being appended to (double insert).
    val observed = Observation()
    val rows = byKey
      .observe(observed,
        min(when(fresh, col(V)).otherwise(col(MinV))),
        max(when(fresh, col(T)).otherwise(col(MaxT))),
        sum(greatest(col(NOld), lit(1L))), // rows per key after the append
        count(when(col(NOld) > 1, 1)),
        count(when(fresh, 1)))
      .filter(fresh)
      .select(incoming.columns.map(col): _*)
      .localCheckpoint(eager = true)
    val observations = Await.result(observed.future, Duration.Inf)
    val (n, metrics) = (observations.getLong(4), QualityGate.metrics(observations))
    // AQE sizes the pass's partitions by the whole table, and the new rows
    // hash across all of them: appended as they are, a tick would write a
    // file per partition. Coalescing the checkpointed rows (no shuffle) to
    // the new rows' share of the partitions writes files in proportion to
    // the data a tick adds.
    if (n > 0) write(rows.coalesce(
      math.ceil(rows.rdd.getNumPartitions * n.toDouble / metrics.rowCount).toInt))
    (n, metrics)
  }
}
