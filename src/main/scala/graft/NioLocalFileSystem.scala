package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem [[GraftSession]] installs
  * (`spark.hadoop.fs.file.impl`): Hadoop's checksummed `LocalFileSystem`
  * over a raw filesystem that sets permissions in-process.
  *
  * Without the native Hadoop library (Spark's distribution ships none),
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and Hadoop
  * calls it for every file and directory it creates with a permission:
  * each parquet part file and its `.crc`, each task-attempt and job
  * directory of a committed write. [[NioLocalFileSystem.Raw]] sets the
  * same mode bits with `Files.setPosixFilePermissions`. Everything else
  * is Hadoop's own `LocalFileSystem`, `.crc` sidecars included. (Without
  * this setting `file:` resolves to Hive's `ProxyLocalFileSystem`, which
  * hive-exec registers, over the same forking raw filesystem.) */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `RawLocalFileSystem` with an in-process `setPermission`. Modes NIO
    * cannot express (the sticky bit) and filesystems without POSIX
    * attributes go to Hadoop's own implementation. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
      catch {
        case e: NoSuchFileException => throw new FileNotFoundException(e.getFile)
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
  }

  /** The `rwxr-x---` form of `p`'s user, group and other bits. (Not
    * `p.toString`: the `FsCreateModes` a create passes prints both its
    * masked and unmasked modes.) */
  private def posix(p: FsPermission) = PosixFilePermissions.fromString(
    Seq(p.getUserAction, p.getGroupAction, p.getOtherAction).map(_.SYMBOL).mkString)
}
