package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem every [[GraftSession]] registers
  * (`spark.hadoop.fs.file.impl`): stock Hadoop `LocalFileSystem` with
  * checksums, whose raw filesystem changes only how a permission is set.
  *
  * Without libhadoop (`NativeIO.isAvailable` false), the stock
  * `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell.execCommand`, forking a process — several milliseconds per call.
  * Every `create` calls it twice (the file and its `.crc`) and every
  * `mkdirs` once per directory made, so WAL appends, flushes, mutations,
  * compactions and the committer's `_temporary` directories all paid it.
  * [[LocalFs.Raw]] sets the same mode bits through
  * `Files.setPosixFilePermissions` instead. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    /** Same mode bits as `chmod`, without the fork. A sticky bit, which
      * `PosixFilePermission` cannot express, and a filesystem without POSIX
      * attributes go to the stock implementation. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
