package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` FileSystem: Hadoop's checksummed local one, whose
  * permission change is a `java.nio` call. Without `libhadoop.so`,
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file and
  * directory Spark's writers and commit protocol create; here it is one
  * syscall. The sticky bit, which a POSIX permission set cannot hold, and
  * non-POSIX file stores still take Hadoop's own path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      // without the sticky bit, FsPermission prints as "rwxr-x---"
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

/** [[NioRawLocalFileSystem]] under Hadoop's checksum layer, so `.crc`
  * sidecars are written and verified exactly as by `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
