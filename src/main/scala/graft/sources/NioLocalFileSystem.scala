package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's checksummed local file system with one change: a permission
 * is set through `java.nio` (one `chmod` system call) instead of a forked
 * `chmod` process. Without the native `libhadoop`, Hadoop's
 * `RawLocalFileSystem.setPermission` forks once for every file and
 * directory a write creates (parquet, `.crc`, `_SUCCESS`, each committer
 * directory), a few ms each: more than a small stored-index append spends
 * on its rows. Files, checksums and permission bits are unchanged; a
 * sticky bit, or a file store without POSIX attributes, takes Hadoop's
 * own path. [[graft.GraftExtensions]] registers it as `fs.file.impl`.
 */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  // OWNER_READ … OTHERS_EXECUTE: mode bits 8 … 0
  private val Order = PosixFilePermission.values

  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Order.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) set.add(Order(i)))
    set
  }
}
