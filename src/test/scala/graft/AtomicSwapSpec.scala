package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AtomicSwap, NeighborGraph}

/** Kill-between-moves coverage for the bucket-swap protocol: every
  * intermediate crash state the old two-move swap could leak is
  * constructed on disk, then recovery must restore a COMPLETE target —
  * new content if the commit marker exists, old content otherwise. */
class AtomicSwapSpec extends AnyFunSuite {

  private def dirWith(parent: Path, name: String, content: String): Path = {
    val d = parent.resolve(name)
    Files.createDirectories(d)
    Files.write(d.resolve("data.txt"), content.getBytes("UTF-8"))
    d
  }
  private def readOf(d: Path): String =
    new String(Files.readAllBytes(d.resolve("data.txt")), "UTF-8")

  test("clean swap replaces content and leaves no scratch siblings") {
    val root = TempDirs.fresh("graft_swap_clean")
    val target = dirWith(root, "bucket", "old")
    AtomicSwap.swap(root, "7", target) { tmp =>
      dirWith(root, tmp.getFileName.toString, "new"); ()
    }
    assert(readOf(target) == "new")
    val left = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      val names = left.iterator().asScala.map(_.getFileName.toString).toSet
      assert(names == Set("bucket"), s"scratch residue: $names")
    } finally left.close()
  }

  test("crash before commit marker rolls back: tmp discarded, target intact") {
    val root = TempDirs.fresh("graft_swap_precommit")
    val target = dirWith(root, "bucket", "old")
    dirWith(root, ".swapnew_7", "half-written")
    AtomicSwap.recover(root, _ => target)
    assert(readOf(target) == "old")
    assert(!Files.exists(root.resolve(".swapnew_7")))
  }

  test("crash after marker, before first move rolls forward") {
    val root = TempDirs.fresh("graft_swap_postmark")
    val target = dirWith(root, "bucket", "old")
    dirWith(root, ".swapnew_7", "new")
    Files.createFile(root.resolve(".swapcommit_7"))
    AtomicSwap.recover(root, _ => target)
    assert(readOf(target) == "new")
    assert(!Files.exists(root.resolve(".swapcommit_7")))
    assert(!Files.exists(root.resolve(".swapold_7")))
  }

  test("crash BETWEEN the two moves (the lost-bucket window) rolls forward") {
    val root = TempDirs.fresh("graft_swap_between")
    // state: target gone (moved to .swapold), tmp complete, marker present
    dirWith(root, ".swapold_7", "old")
    dirWith(root, ".swapnew_7", "new")
    Files.createFile(root.resolve(".swapcommit_7"))
    val target = root.resolve("bucket")
    AtomicSwap.recover(root, _ => target)
    assert(readOf(target) == "new", "bucket must be restored, not lost")
    assert(!Files.exists(root.resolve(".swapold_7")))
    assert(!Files.exists(root.resolve(".swapcommit_7")))
  }

  test("crash after second move, before cleanup, drops leftovers") {
    val root = TempDirs.fresh("graft_swap_postswap")
    val target = dirWith(root, "bucket", "new")
    dirWith(root, ".swapold_7", "old")
    Files.createFile(root.resolve(".swapcommit_7"))
    AtomicSwap.recover(root, _ => target)
    assert(readOf(target) == "new")
    assert(!Files.exists(root.resolve(".swapold_7")))
    assert(!Files.exists(root.resolve(".swapcommit_7")))
  }

  test("interrupted NeighborGraph.delete is healed by the next delete call") {
    val spark = GraftSession(4)
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val p = TempDirs.fresh("graft_nng_swapcrash")
    NeighborGraph.build(emb, p.toString, m = 4, numTables = 6,
      planesPerTable = 5, nBuckets = 8)
    val before = spark.read.parquet(s"$p/edges")
      .filter($"src" =!= 3L && $"dst" =!= 3L)
      .select($"src", $"dst", $"sim", $"rank").collect().toSet
    // simulate a delete(3) that crashed BETWEEN the two moves of bucket
    // (3 % 8 = 3): new content staged + marker, live dir gone
    val bucketDir = java.nio.file.Paths.get(s"$p/edges/src_bucket=3")
    val kept = spark.read.parquet(bucketDir.toString)
      .filter($"src" =!= 3L && $"dst" =!= 3L)
    kept.write.mode("overwrite").parquet(s"$p/.swapnew_3")
    Files.createFile(p.resolve(".swapcommit_3"))
    val trash = p.resolve(".swapold_3")
    Files.move(bucketDir, trash)
    // the bucket is now MISSING from the live layout — the lost window.
    // The next maintenance call must first heal it, then do its own work.
    NeighborGraph.delete(spark, p.toString, Seq(3L), nBuckets = 8)
    val after = spark.read.parquet(s"$p/edges")
      .select($"src", $"dst", $"sim", $"rank").collect().toSet
    assert(after == before,
      "healed delete must equal a clean delete of the same ids")
    assert(!Files.exists(p.resolve(".swapnew_3")) &&
      !Files.exists(p.resolve(".swapold_3")) &&
      !Files.exists(p.resolve(".swapcommit_3")), "scratch residue")
  }
}
