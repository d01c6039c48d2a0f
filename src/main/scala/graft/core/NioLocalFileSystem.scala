package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem (`file:`, checksummed as Hadoop's own) whose
  * permission changes do not fork a process. Without the native-hadoop
  * library, `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell` for every file, `.crc` file and directory a write creates —
  * a fork each, which costs milliseconds from a large-heap JVM.
  * [[graft.Tables.configure]] installs it as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioLocalFileSystem]]'s raw filesystem: `setPermission` through
  * `java.nio.file.Files.setPosixFilePermissions`. A mode with setuid,
  * setgid or sticky bits, or a filesystem without POSIX attributes,
  * still goes through Hadoop's own path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(mode))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

object NioRawLocalFileSystem {
  /** The rwx bits of `mode` as a POSIX permission set; the enum runs
    * owner, group, others, each read, write, execute — octal 0400 down
    * to 0001.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) perms.add(p)
    }
    perms
  }
}
