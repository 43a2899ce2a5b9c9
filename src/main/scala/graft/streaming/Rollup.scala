package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate table — the "streaming materialized
  * view" production pattern: each micro-batch's PARTIAL aggregates merge
  * into a persistent rollup table, so the dashboard query reads a small
  * pre-aggregated table instead of re-scanning the event history. This is
  * the continuous form of the reference's hourly batch → warehouse →
  * Metabase loop (SURVEY.md §1.1): the reference recomputes its dashboard
  * aggregation from the warehouse on every view; at 100 TB of events the
  * rollup table IS the only viable dashboard source.
  *
  * Correctness contracts:
  *  - merge keys are the GROUP BY keys; merged measures must be
  *    sum-mergeable (counts, sums — avg is derived at read time). Sums
  *    ride the repo's decimal convention so merge order cannot change the
  *    result (decimal addition is exact; double addition is not
  *    associative).
  *  - exactly-once across replays: foreachBatch re-delivers a batch after
  *    checkpoint recovery, and a blind merge would double-count it. Each
  *    merge writes the WHOLE new table state to a fresh versioned
  *    directory `v_<batchId>`; the `_SUCCESS` marker the Hadoop committer
  *    writes LAST is simultaneously the data commit and the ledger entry,
  *    so there is no window in which the table contains a batch that the
  *    ledger does not know about. A crash mid-write leaves a version dir
  *    without `_SUCCESS`; the replayed batch overwrites it from the last
  *    committed version — no double count. Batch ids within one streaming
  *    checkpoint lineage are monotonically increasing, so
  *    `batchId <= max(committed versions)` ⇒ already applied (this also
  *    keeps the check correct after old versions are pruned).
  *
  * Scale: each merge reads the current rollup (keys-cardinality-sized —
  * hours × event types, NOT event-count-sized), unions the batch partials,
  * and re-aggregates — one shuffle over rollup-sized data per batch.
  * Because the merge writes to a NEW version dir, it never overwrites its
  * own input (no materialization barrier needed) and readers of the
  * previous version are never disturbed mid-write. Old versions are pruned
  * after each commit. Single-writer per table, like [[graft.etl.Upsert]].
  */
object Rollup {

  /** Partial hourly aggregates of one events micro-batch (or of a batch
    * DataFrame — the shapes are identical, which is the point: the merge
    * never needs to know whether its input came from a stream). Sums are
    * kept in decimal(18,2) for exact mergeability. */
  def hourlyPartials(events: DataFrame): DataFrame = events
    .groupBy(col("event_type"),
      date_format(date_trunc("hour", col("ts_us")), "yyyy-MM-dd HH:mm:ss")
        .as("hour_start"))
    .agg(count(lit(1)).as("n_events"),
      sum(col("value").cast("decimal(18,2)")).as("sum_value"))

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val VersionDir = "v_(\\d+)".r

  /** Batch ids with a fully committed version dir (`_SUCCESS` present —
    * the committer writes it after every task file is in place, so its
    * existence is the atomic commit point). */
  private def committedVersions(spark: SparkSession, tablePath: String): Seq[Long] = {
    val root = new Path(tablePath)
    val f = fs(spark, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VersionDir(id) if f.exists(new Path(st.getPath, "_SUCCESS")) =>
            Some(id.toLong)
          case _ => None
        }
    }.flatten
  }

  private def currentVersion(spark: SparkSession, tablePath: String): Option[Long] =
    committedVersions(spark, tablePath).maxOption

  /** True iff `batchId` is already reflected in the table state. */
  def committed(spark: SparkSession, tablePath: String, batchId: Long): Boolean =
    currentVersion(spark, tablePath).exists(_ >= batchId)

  /** The current table state (latest committed version). Empty-schema-less
    * read is impossible before the first commit — callers drain at least
    * one batch first; fail loudly otherwise. */
  def readRollup(spark: SparkSession, tablePath: String): DataFrame =
    currentVersion(spark, tablePath) match {
      case Some(v) => spark.read.parquet(s"$tablePath/v_$v")
      case None => sys.error(s"no committed rollup version under $tablePath")
    }

  /** Merge one batch of partial aggregates into the rollup table at
    * `tablePath`. `keys` are the grouping columns; every other column is
    * summed. Idempotent per `batchId` (see class doc). Returns true when
    * the merge ran, false when the batch id was already committed.
    *
    * `dropEmptied = true` removes groups whose measures all reach exactly
    * zero after the merge — the retraction path sets it so a fully
    * deleted group leaves no tombstone row (sound because sums are exact
    * decimals/longs: a group netting to all-zero measures holds no
    * remaining contribution). */
  def mergeInto(spark: SparkSession, partials: DataFrame, tablePath: String,
      keys: Seq[String], batchId: Long, dropEmptied: Boolean = false,
      retainVersions: Int = 1): Boolean =
    mergeVersioned(spark, partials, tablePath, batchId, retainVersions) { all =>
      val aggCols = partials.columns.filterNot(keys.contains)
      val summed = all
        .groupBy(keys.map(col): _*)
        .agg(aggCols.map(c => sum(col(c)).as(c)).toSeq.head,
          aggCols.map(c => sum(col(c)).as(c)).toSeq.tail: _*)
      if (dropEmptied)
        // null-safe <=>: a NULL measure must read "not emptied", not make
        // the conjunction NULL (which the filter would silently drop) —
        // impossible for the hourly rollup's NOT NULL sums, but mergeInto
        // is generic and a caller with nullable measures keeps its groups
        summed.filter(not(aggCols.map(col(_) <=> lit(0)).reduce(_ && _)))
      else summed
    }

  /** Versioned merge for state that is mergeable but NOT sum-mergeable —
    * quantile sketches, and any future partial whose merge is a custom
    * aggregation rather than per-column SUM. The caller supplies the
    * combine over (current table ∪ batch partials); everything else —
    * the exactly-once versioned commit, replay idempotence
    * (`batchId <= max committed` ⇒ no-op returning false), retention
    * pruning — is the same discipline [[mergeInto]] rides. The combine
    * MUST be insensitive to how its input rows were batched (true for
    * any associative-commutative merge with an order-independent
    * contract, e.g. QuantileSketch's tracked-bound semantics). */
  def mergeStateInto(spark: SparkSession, partials: DataFrame,
      tablePath: String, batchId: Long, retainVersions: Int = 1)
      (combine: DataFrame => DataFrame): Boolean =
    mergeVersioned(spark, partials, tablePath, batchId, retainVersions)(combine)

  /** CDC apply — the last-writer-wins sibling of [[mergeInto]] for keyed
    * UPDATE streams (a changelog of profile/dimension rows rather than
    * additive measures). Per key, the row that is maximal under
    * `orderCols` (compared lexicographically — callers pass a total
    * per-key order such as (event_time, event_id)) supplies every
    * non-sum column; `sumCols` accumulate additively across updates
    * (update counters, byte totals). Because max is commutative,
    * associative, and idempotent-per-row, the merged state is
    * independent of how updates are batched OR ordered — an out-of-order
    * micro-batch carrying an older version of a key cannot regress the
    * table (StreamingSpec proves both properties). Same versioned-commit
    * exactly-once discipline and rollup-sized merge cost as
    * [[mergeInto]].
    *
    * `orderCols` values must be NON-NULL: a NULL recency field compares
    * low in struct ordering, so a null-versioned update silently loses to
    * any versioned one — fine for the event-time keys callers feed
    * (non-null by construction), wrong for a changelog with optional
    * versions; such callers must coalesce a floor version first. */
  def mergeLatestInto(spark: SparkSession, partials: DataFrame,
      tablePath: String, keys: Seq[String], orderCols: Seq[String],
      sumCols: Seq[String], batchId: Long): Boolean = {
    require(orderCols.nonEmpty, "orderCols must define per-key recency")
    val payload = partials.columns
      .filterNot(c => keys.contains(c) || sumCols.contains(c))
    require(orderCols.forall(payload.contains),
      s"orderCols must be non-key, non-sum columns; got $orderCols")
    val carried = orderCols ++ payload.filterNot(orderCols.contains)
    mergeVersioned(spark, partials, tablePath, batchId) { all =>
      all.groupBy(keys.map(col): _*)
        .agg(max(struct(carried.map(col): _*)).as("__latest"),
          sumCols.map(c => sum(col(c)).as(c)): _*)
        .select(keys.map(col) ++
          carried.map(c => col(s"__latest.$c").as(c)) ++
          sumCols.map(col): _*)
    }
  }

  /** All committed version ids, ascending — the table's snapshot ledger.
    * Non-empty only when the writer retains history (`retainVersions` > 1);
    * with the default single-version policy this is just the current id. */
  def versions(spark: SparkSession, tablePath: String): Seq[Long] =
    committedVersions(spark, tablePath).sorted

  /** Time-travel read: the table state as of `batchId` (that exact
    * committed version — snapshots are whole table states, not deltas).
    * Requires the writer to have retained it (`retainVersions`); fails
    * loudly on a pruned or never-committed id rather than silently
    * serving a neighbor. */
  def readVersion(spark: SparkSession, tablePath: String, batchId: Long): DataFrame = {
    require(committedVersions(spark, tablePath).contains(batchId),
      s"version $batchId not committed (or pruned) under $tablePath — " +
        s"retained: ${versions(spark, tablePath).mkString(",")}")
    spark.read.parquet(s"$tablePath/v_$batchId")
  }

  /** Shared versioned-commit mechanics: idempotence check, current-state
    * read, `combine(existing ∪ partials)`, atomic `v_<batchId>` commit,
    * prune to the newest `retainVersions` snapshots (default 1 — the
    * dashboard table; >1 keeps a time-travel ledger the way lakehouse
    * table formats do). The merge POLICY is the caller's combine step. */
  private def mergeVersioned(spark: SparkSession, partials: DataFrame,
      tablePath: String, batchId: Long, retainVersions: Int = 1)
      (combine: DataFrame => DataFrame): Boolean = {
    require(retainVersions >= 1, s"retainVersions must be >= 1; got $retainVersions")
    if (committed(spark, tablePath, batchId)) return false
    val existing = currentVersion(spark, tablePath) match {
      case Some(v) =>
        spark.read.parquet(s"$tablePath/v_$v").select(partials.columns.map(col): _*)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], partials.schema)
    }
    val merged = combine(existing.unionByName(partials))
    // overwrite cleans any partial leftover of a crashed attempt at this id;
    // the committer's final _SUCCESS create is the atomic data+ledger commit
    merged.write.mode("overwrite").parquet(s"$tablePath/v_$batchId")
    // prune superseded versions beyond the retention window (idempotence
    // survives pruning: the check above is `batchId <= max`, not per-id
    // marker existence)
    val root = new Path(tablePath)
    val f = fs(spark, root)
    committedVersions(spark, tablePath).sorted.dropRight(retainVersions)
      .foreach { v => f.delete(new Path(root, s"v_$v"), true) }
    true
  }

  /** Propagate a DELETE through the maintained rollup — the
    * incremental-view-maintenance retraction path (the GDPR /
    * right-to-be-forgotten shape: purge a user's events without
    * recomputing the view from history). Deleted rows become NEGATED
    * partials — the same (keys, measures) shape [[hourlyPartials]] emits,
    * every measure multiplied by −1 — and ride the ordinary
    * [[mergeInto]]: exact decimal/long sums make subtraction-by-merge
    * correct under any merge order, and the versioned commit keeps the
    * retraction exactly-once under replay, identical to an insert batch.
    * Groups whose measures net to zero are dropped (no tombstones). The
    * version id is allocated past the current head, so a retraction is
    * just the next committed version.
    *
    * At 100 TB: the merge touches rollup-sized data (keys cardinality) +
    * the delete batch — never the event history. That asymmetry is the
    * whole point of maintaining the view incrementally. */
  def retractHourly(spark: SparkSession, deletedEvents: DataFrame,
      tablePath: String): Unit = {
    val head = currentVersion(spark, tablePath).getOrElse(
      sys.error(s"no committed rollup under $tablePath to retract from"))
    val neg = hourlyPartials(
        deletedEvents.withColumn("ts_us", expr("timestamp_micros(ts div 1000)")))
      .select(col("event_type"), col("hour_start"),
        (-col("n_events")).as("n_events"),
        (-col("sum_value")).as("sum_value"))
    mergeInto(spark, neg, tablePath, Seq("event_type", "hour_start"),
      head + 1, dropEmptied = true)
    ()
  }

  /** Drain the events backlog into an incrementally-maintained hourly
    * rollup at `tablePath` (AvailableNow, the reference's catchup=False
    * batch shape). Restart-safe: the streaming checkpoint resumes the
    * source position, and the versioned commit absorbs any replayed batch. */
  def hourlyRollupSink(spark: SparkSession, dir: String, tablePath: String,
      checkpointDir: String, glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.drainBatches(Streams.eventsStream(spark, dir, glob, maxFilesPerTrigger),
        checkpointDir) { (batch, id) =>
      mergeInto(spark, hourlyPartials(batch), tablePath,
        Seq("event_type", "hour_start"), id)
    }
}
