package graft.tools

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the `chmod` fork. Without
  * libhadoop, `RawLocalFileSystem.setPermission` starts a `chmod`
  * process, and every file create and every mkdirs calls it. This one
  * sets the same nine bits with `Files.setPosixFilePermissions`, which
  * follows symlinks as `chmod` does. Two cases keep the stock method,
  * because chmod(2) through NIO would give a different mode: a sticky
  * bit, which NIO cannot set, and a directory carrying setuid or setgid,
  * which `chmod` keeps for a four-digit mode and chmod(2) clears. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    // 0xC00 = S_ISUID | S_ISGID
    if (permission.getStickyBit || Files.isDirectory(f) &&
        (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xC00) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(f, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
  }
}

/** The checksummed `file:` filesystem over [[ForkFreeRawLocalFileSystem]],
  * so `.crc` siblings are still written. `fs.file.impl` names this class;
  * Hadoop instantiates it through the no-arg constructor. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)
