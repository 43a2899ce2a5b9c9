package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The operator cache lifecycle contract: every `persistTracked()`
  * intermediate is registered in the session ledger, and `releaseAll`
  * empties BOTH the ledger and the session CacheManager once an
  * operator's output is materialized — a long-lived session (Verify's
  * 132-query sweep, BiServe) must not accumulate cached stages. */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private val sf = "/root/testdata/sf0.001"

  test("operator persists are tracked and fully released after materialization") {
    CacheLifecycle.releaseAll(spark) // clean slate from earlier suites
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf)
    // DSIR persists its shared per-doc feature stage (the ADVICE leak site)
    val weights = operators.Dsir.importanceWeights(docs,
      length(col("text")) % 2 === 0)
    assert(weights.count() > 0)
    assert(CacheLifecycle.trackedCount(spark) >= 1,
      "importanceWeights must register its persisted stage in the ledger")
    // near-dup persists several banding/rerank stages
    val pairs = operators.Dedup.nearDuplicatePairs(docs, "doc_id", "text")
    pairs.count()
    assert(CacheLifecycle.trackedCount(spark) >= 2)
    assert(!spark.sharedState.cacheManager.isEmpty,
      "persistTracked must actually cache")
    CacheLifecycle.releaseAll(spark)
    assert(CacheLifecycle.trackedCount(spark) == 0, "ledger must drain")
    assert(spark.sharedState.cacheManager.isEmpty,
      "released operator caches must leave the CacheManager empty")
    // idempotent and safe on an empty ledger
    CacheLifecycle.releaseAll(spark)
  }

  test("no bare persist() remains in main sources") {
    // The lifecycle only works if every operator routes through the ledger
    // — a regression spec so a future bare .persist() gets flagged here
    // instead of resurfacing as a session-lifetime leak.
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      // the ledger itself is the one legitimate persist() call site
      .filterNot(_.toString.endsWith("CacheLifecycle.scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".persist()") && !line.trim.startsWith("//") =>
            s"$p:${i + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"bare .persist() in main (use persistTracked): ${offenders.mkString(", ")}")
  }
}
