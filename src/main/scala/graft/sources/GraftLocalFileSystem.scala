package graft.sources

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** `file://` as Hadoop's checksummed [[LocalFileSystem]], with one change:
  * its raw file system sets permissions through `java.nio` instead of a
  * `chmod` process.
  *
  * Without native libhadoop, `RawLocalFileSystem.setPermission` forks
  * `chmod` and Hadoop calls it on every `mkdirs` and every `create`, for a
  * data file and its `.crc` alike: one partitioned Delta append forks
  * hundreds of processes from tasks, the output committer and the staging
  * write. `Files.setPosixFilePermissions` sets the same `rwx` bits in
  * process. It defers to Hadoop's own path when native IO is loaded (no
  * fork there), on a file system without POSIX attributes, and for the
  * sticky bit, which `java.nio` cannot set.
  *
  * It stays a `LocalFileSystem`: `FileSystem.getLocal` casts to that type,
  * and the Delta commit's hard-link publish checks for it. Checksums and
  * the on-disk layout are unchanged. Registered as `fs.file.impl` by
  * [[graft.GraftSession]].
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {

  private lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The raw local file system with an in-process `setPermission`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || !posix || permission.getStickyBit) {
        super.setPermission(p, permission)
      } else {
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString.take(9)))
      }
  }
}
