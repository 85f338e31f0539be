package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.internal.Logging

/** Hadoop's checksummed `file:` filesystem (same `.crc` side files, same
  * mode bits) whose permissions are set in-process. Without `libhadoop`,
  * stock [[RawLocalFileSystem.setPermission]] forks a `chmod` for every
  * directory, file and `.crc` file it creates — dozens of processes per
  * fan-out batch of [[FsStreamPublisher]]. Selected per write through the
  * job's Hadoop conf (`fs.file.impl`), never installed JVM-wide.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

private[streaming] class NioRawLocalFileSystem extends RawLocalFileSystem with Logging {
  import NioRawLocalFileSystem._

  /** The same `rwxrwxrwx` bits through one `chmod(2)`. The sticky bit
    * (the only other bit an FsPermission carries, and one NIO cannot
    * set) or a store with no POSIX view take Hadoop's own path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val nio = pathToFile(p).toPath
    if (!permission.getStickyBit &&
        Files.getFileAttributeView(nio, classOf[PosixFileAttributeView]) != null) {
      Files.setPosixFilePermissions(nio, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
    } else {
      if (warned.compareAndSet(false, true))
        logWarning(s"setPermission($permission) on $p is not a plain POSIX mode " +
          "change; deferring to Hadoop's RawLocalFileSystem (may fork chmod)")
      super.setPermission(p, permission)
    }
  }
}

private object NioRawLocalFileSystem {
  private val warned = new AtomicBoolean(false)
}
