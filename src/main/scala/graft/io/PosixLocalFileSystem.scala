package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`file:`) without a process
  * per permission. Without Hadoop's native library (none ships here),
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file and
  * directory it creates with a mode: each parquet part file, `.crc`,
  * task-attempt directory and checkpoint log file of an ingest trigger.
  * This one sets the same nine mode bits through
  * `Files.setPosixFilePermissions`. A mode with a bit above them
  * (sticky), or a platform without the POSIX attribute view, takes
  * Hadoop's path. Selected per session by [[graft.streaming.StreamJob]].
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixLocalFileSystem.Raw)

object PosixLocalFileSystem {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The POSIX set `chmod` would leave for `permission`, or None when it
    * needs a bit `PosixFilePermission` cannot express. The enum lists
    * owner, group and others, read/write/execute each: bit 8 down to 0.
    */
  def posixSet(permission: FsPermission): Option[java.util.Set[PosixFilePermission]] = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) None
    else {
      val set = EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
        if ((mode & (1 << (8 - i))) != 0) set.add(p)
      }
      Some(set)
    }
  }

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      posixSet(permission).filter(_ => posix) match {
        case Some(set) => Files.setPosixFilePermissions(pathToFile(p).toPath, set)
        case None => super.setPermission(p, permission)
      }
  }
}
