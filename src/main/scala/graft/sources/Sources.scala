package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.GraftSession
import graft.etl.Upsert

/** Source/sink surface (SURVEY.md §2 Tier B "Scans/sources" row): parquet,
  * CSV, JSON-lines, and the JDBC parity path for the reference's Postgres
  * warehouse. Schemas are always explicit — inference is a correctness
  * hazard in production paths (SURVEY.md §1.2) and costs an extra pass.
  */
object Sources {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(path)

  def writeParquet(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(path)

  def writeCsv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)

  def writeJsonLines(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(path)

  /** ORC: the second columnar lake format (built into spark-sql). Same
    * pushdown/pruning story as parquet — predicates and column selection
    * reach the ORC reader (SourcesSpec asserts the pushed-filter plan). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Bucketed managed table: co-locates data by join key so repeated joins
    * and aggregations on that key run with NO shuffle exchange — the lake
    * layout the scale design assumes for fact-fact joins (orderkey,
    * user_id). Sorted within buckets, so sort-merge joins also skip the
    * sort. SourcesSpec proves the exchange-free join plan. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Hive-style partitioned write: one directory per `partitionCol` value.
    * The time-partitioned lake layout the 100 TB design assumes for the
    * events table — a date/hour filter then prunes whole partitions at
    * planning time (PartitionFilters in the scan, zero I/O for untouched
    * days), which is what keeps full-history tables queryable. SourcesSpec
    * proves the pruned plan reads only the matching partition. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCol).parquet(path)

  /** JDBC read with predicate pushdown left to Spark's JDBC source
    * (`PushedFilters` reach the remote WHERE clause). Postgres-parity path;
    * not exercised in this container (no database), the API mirrors the
    * parquet loaders so swapping storage is a one-line change. */
  def readJdbc(spark: SparkSession, url: String, table: String,
      props: Properties = new Properties()): DataFrame =
    spark.read.jdbc(url, table, props)

  /** The reference's `INSERT ... ON CONFLICT DO NOTHING` load
    * (/root/reference/dags/crypto-etl-pipeline-psql.py:85-98) against a
    * JDBC warehouse: anti-join the batch against current keys, then a
    * batched append (Spark's JDBC writer uses addBatch/executeBatch —
    * the same executemany shape as the reference). Single-writer per table,
    * like the reference's linear DAG. Live-tested against embedded Derby
    * (SourcesSpec); the anti-join core is the unit/oracle-tested [[Upsert]].
    *
    * `columnTypes` declares warehouse-side SQL types per column — the
    * reference's price column is Postgres REAL/float4
    * (dags/crypto-etl-pipeline-psql.py:160) while the engine standardizes
    * on DoubleType. Single-precision targets (REAL/FLOAT4/FLOAT) get the
    * DataFrame column narrowed through FloatType BEFORE the write, so the
    * values stored are the same float4 values Postgres would keep — the
    * narrowing happens in the engine (oracle-checkable, q118/float4Compat)
    * rather than silently inside the remote cast. The map also feeds
    * Spark's createTableColumnTypes so a writer-created table declares the
    * parity DDL. */
  def jdbcInsertIfAbsent(spark: SparkSession, incoming: DataFrame, url: String,
      table: String, keys: Seq[String], props: Properties = new Properties(),
      batchSize: Int = 1000,
      columnTypes: Map[String, String] = Map.empty): Unit = {
    val float4Targets = Set("real", "float4", "float")
    val narrowed = columnTypes.foldLeft(incoming) { case (df, (c, t)) =>
      if (float4Targets(t.trim.toLowerCase)) df.withColumn(c, col(c).cast("float"))
      else df
    }
    val existing = spark.read.jdbc(url, table, props)
    val fresh = Upsert.newRows(existing, narrowed, keys)
    val writer = fresh.write.mode(SaveMode.Append)
      .option("batchsize", batchSize.toString)
    if (columnTypes.nonEmpty) writer.option("createTableColumnTypes",
      columnTypes.map { case (c, t) => s"$c $t" }.mkString(", "))
    writer.jdbc(url, table, props)
  }

  /** Small-file compaction: rewrite a parquet directory into files of
    * ~`targetRows` rows each (the OPTIMIZE/compact maintenance op every
    * streaming or per-batch append sink eventually needs — thousands of
    * KB-sized files turn a 100 TB scan into a listing+open storm).
    *
    * The REBALANCE hint makes AQE coalesce shuffle partitions to the
    * advisory size and split skewed ones, so output files are near-uniform
    * without a driver-side count() pre-pass; `maxRecordsPerFile` hard-caps
    * stragglers. Writes to `outPath` then atomically swaps nothing — the
    * caller owns the rename discipline (single-writer, like the upsert).
    */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
      targetRows: Long = 1000000L, approxRowBytes: Int = 100): Unit = {
    // AQE sizes the rebalanced partitions by the advisory byte target, so
    // aim it at targetRows * approxRowBytes for the duration of the write.
    GraftSession.withConfs(spark, Seq(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
          (targetRows * approxRowBytes).toString)) {
      spark.read.parquet(inPath)
        .hint("rebalance")
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", targetRows.toString)
        .parquet(outPath)
    }
  }
}
