package graft.util

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem over [[NoForkRawLocalFileSystem]].
  * Registered as `fs.file.impl` by [[SparkUtil.newLocalSession]], so every
  * checkpoint, state-store and offset-log file the session writes keeps its
  * `.crc` sidecar but no longer forks a `chmod` process. */
final class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the mode with a
  * `chmod(2)` system call instead of forking `chmod(1)`, the only route
  * Hadoop has when its native library is absent. Hadoop calls it for every
  * file and directory it creates. The result is the mode the forked
  * command would leave: `permission.toShort` (sticky bit included) and,
  * on a directory, the set-id bits it already had, which `chmod` with an
  * octal mode preserves. Without a `unix` attribute view (not a POSIX
  * platform) it falls back to Hadoop's own implementation. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (!path.getFileSystem.supportedFileAttributeViews.contains("unix")) {
      super.setPermission(p, permission)
    } else {
      val setIdBits = // S_ISUID | S_ISGID
        if (Files.isDirectory(path)) Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xc00
        else 0
      Files.setAttribute(path, "unix:mode", Int.box(permission.toShort | setIdBits))
    }
  }
}
