package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local (`file:`) filesystem without child processes. Without
  * Hadoop's native library, `RawLocalFileSystem` forks `chmod` for every
  * file and directory it creates and `readlink` for every link-status
  * lookup behind a rename: about a hundred processes per CDC micro-batch
  * (bucket files, their checksums, the stream's checkpoint). Each fork
  * waits for a free core, so a batch whose writes run as concurrent jobs
  * slowed down whenever the host was busy. This filesystem makes
  * the same two calls through `java.nio`, with the same outcome: a file
  * gets the same mode bits, and a symlink still resolves through
  * Hadoop's own code. [[GraftSession]] installs it. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    // sticky and set-id bits have no java.nio form
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // declared in mode-bit order: owner rwx, group rwx, others rwx
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { bit =>
        if ((mode & (0x100 >> bit.ordinal)) != 0) perms.add(bit)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
  }

  /** A regular file's or directory's link status is its status; only a
    * symlink needs Hadoop's `readlink`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}
