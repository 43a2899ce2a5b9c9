package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class TempDirsSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  test("hook count stays at one across many registrations") {
    val before = TempDirs.hookCount
    val dirs = (1 to 5).map(i => TempDirs.fresh(s"graft_tdspec_$i"))
    assert(dirs.forall(java.nio.file.Files.isDirectory(_)))
    assert(dirs.distinct.size == 5)
    // exactly ONE hook serves all registrations — never one per dir
    assert(TempDirs.hookCount == 1)
    assert(before <= 1)
    assert(TempDirs.registeredCount >= 5)
  }

  test("scoped memoizes per key: build runs once, same dir returned") {
    val builds = new AtomicInteger(0)
    def get() = TempDirs.scoped("tdspec|memo", "graft_tdspec_memo") { p =>
      builds.incrementAndGet()
      java.nio.file.Files.writeString(p.resolve("artifact.txt"), "built")
      ()
    }
    val d1 = get()
    val d2 = get()
    val d3 = get()
    assert(builds.get() == 1, "build closure must run exactly once per key")
    assert(d1 == d2 && d2 == d3)
    assert(java.nio.file.Files.exists(d1.resolve("artifact.txt")))
    // a DIFFERENT key gets its own dir and its own build
    val other = TempDirs.scoped("tdspec|memo2", "graft_tdspec_memo") { _ => () }
    assert(other != d1)
  }

  test("repeated q164-style staged invocations reuse one staged dir") {
    val d = "/root/testdata/sf0.001"
    val canon = java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString
    val key = s"sdedup|$canon"
    val before = TempDirs.registeredCount
    // mirror q164's staging contract twice; second call must not restage
    def stage() = TempDirs.scoped(key, "graft_sdedup") { b =>
      val src = java.nio.file.Paths.get(s"$d/events.parquet")
      java.nio.file.Files.copy(src, b.resolve("events_a.parquet"))
      java.nio.file.Files.copy(src, b.resolve("events_b.parquet"))
      ()
    }
    val b1 = stage()
    val b2 = stage()
    assert(b1 == b2)
    // at most one new dir was registered by the two calls (zero if q164
    // already staged this dataset earlier in the test session)
    assert(TempDirs.registeredCount <= before + 1)
    assert(TempDirs.hookCount == 1)
  }

  test("co-purchase staged tables equal the inline self-join") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val pairs = operators.CoPurchase.pairs(spark, d)
    val op = Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val inline = op.as("a")
      .join(op.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("supp"))
    assert(pairs.collect().toSet == inline.collect().toSet)
    // repeated reads hit the same staged dir (no rebuild): the scan path
    // is stable across calls
    val f1 = operators.CoPurchase.pairs(spark, d).inputFiles.toSet
    val f2 = operators.CoPurchase.pairs(spark, d).inputFiles.toSet
    assert(f1 == f2 && f1.nonEmpty)
    // minSupp pushes a filter over the SAME staged table
    val supp2 = operators.CoPurchase.pairs(spark, d, minSupp = 2)
    assert(supp2.collect().toSet ==
      inline.filter(col("supp") >= 2).collect().toSet)
  }
}
