package graft

import java.io.FileNotFoundException
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Pipeline

/** The engine's `file:` filesystem ([[NioLocalFileSystem]]): parquet
  * writes, commits and stream checkpoints set permissions without forking
  * a `chmod` process. Process starts are read from a JFR recording of this
  * JVM (`jdk.ProcessStart`). */
class LocalFileSystemSpec extends AnyFunSuite {
  lazy val spark = GraftSession(4)

  private val sf = "/root/testdata/sf0.001"

  /** `body`'s result and the command lines of the processes it started. */
  private def processStarts[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    val file = Files.createTempFile("graft_jfr", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val a = try body finally rec.stop()
      rec.dump(file)
      (a, RecordingFile.readAllEvents(file).asScala.toSeq.map(_.getString("command")))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def chmods(commands: Seq[String]): Seq[String] =
    commands.filter(_.contains("chmod"))

  test("file: paths resolve to the NIO local filesystem") {
    val fs = new Path(s"file:$sf").getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
  }

  test("the recording sees a process this JVM starts") {
    val (_, started) = processStarts(new ProcessBuilder("true").start().waitFor())
    assert(started.exists(_.contains("true")), s"$started")
  }

  test("a warm pipeline tick and a warm q34 drain start no chmod process") {
    val dir = TempDirs.fresh("graft_fs_tick").resolve("t").toString
    val json = """{"bitcoin":{"usd":67210.0},"tether":{"usd":0.99}}"""
    val t0 = Timestamp.valueOf("2024-01-15 12:00:00")
    def hour(h: Int) = new Timestamp(t0.getTime + h * 3600000L)
    Pipeline.run(spark, json, hour(0), dir, hour(1)) // creates the table
    Pipeline.run(spark, json, hour(1), dir, hour(2)) // warm
    val (tick, tickStarts) = processStarts(Pipeline.run(spark, json, hour(2), dir, hour(3)))
    assert(tick.rowsInserted == 2, "the measured tick wrote no file")
    assert(chmods(tickStarts).isEmpty, s"a warm tick forked ${chmods(tickStarts)}")

    queries.Events.q34(spark, sf).collect() // warm
    val (rows, drainStarts) = processStarts(queries.Events.q34(spark, sf).collect())
    assert(rows.nonEmpty)
    assert(chmods(drainStarts).isEmpty, s"a warm q34 drain forked ${chmods(drainStarts)}")
  }

  test("the raw filesystem sets mode bits in-process; a missing path is FileNotFoundException") {
    val fs = new NioLocalFileSystem.Raw
    fs.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = TempDirs.fresh("graft_fs_mode")
    val f = Files.createFile(dir.resolve("f"))
    val (_, started) = processStarts(
      fs.setPermission(new Path(f.toUri), new FsPermission(Integer.parseInt("640", 8).toShort)))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == "rw-r-----")
    assert(started.isEmpty, s"setPermission forked $started")
    // a create's mode: the umask-masked bits apply
    fs.setPermission(new Path(f.toUri), FsCreateModes.applyUMask(
      new FsPermission(Integer.parseInt("666", 8).toShort),
      new FsPermission(Integer.parseInt("022", 8).toShort)))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == "rw-r--r--")
    // the sticky bit has no NIO form: Hadoop's own chmod sets it
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    fs.setPermission(new Path(dir.toUri), sticky)
    assert(fs.getFileStatus(new Path(dir.toUri)).getPermission.getStickyBit)
    intercept[FileNotFoundException] {
      fs.setPermission(new Path(dir.resolve("missing").toUri), FsPermission.getFileDefault)
    }
  }
}
