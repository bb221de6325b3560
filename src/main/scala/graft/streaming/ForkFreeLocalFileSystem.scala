package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem every graft stream writes through: Hadoop's
  * `LocalFileSystem` (the `.crc` checksums, `rename` replacing an
  * existing target) over a raw file system whose `setPermission` does
  * not fork. Without Hadoop's native library,
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process,
  * and every local `create` and `mkdirs` calls it, once for the file
  * and once for its `.crc`: about 22 forks per micro-batch from the
  * checkpoint manager's temp files, the file sink's parquet writers,
  * `mkdirs` and the commit protocol. Here the same mode is applied
  * through `java.nio`. The mode itself is unchanged: `create` and
  * `mkdirs` apply the umask before they call `setPermission`, as they
  * do for Hadoop's class.
  *
  * Installed through `fs.file.impl` with the FileSystem cache off
  * ([[ForkFreeLocalFileSystem.confs]]): the cache key ignores the conf,
  * so a cached `file:` instance of another class would otherwise win.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

object ForkFreeLocalFileSystem {
  /** The Hadoop conf entries that make `file:` paths resolve to this
    * class: [[LocalCheckpointFileManager]] sets them on its conf copy,
    * [[EventStreams.withStreamShuffle]] on the session a stream clones. */
  val confs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}

/** `RawLocalFileSystem` with a `setPermission` that maps the nine
  * permission bits to `Files.setPosixFilePermissions` instead of a
  * forked `chmod`. It reads `perm.toShort`, not `perm.toString`,
  * because `FsCreateModes` overrides `toString`. A mode with bits
  * above `0777` (sticky, setuid, setgid), which the nio call cannot
  * express, and a file store without POSIX permissions keep Hadoop's
  * path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val bits = perm.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, perm)
    else {
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists owner rwx, group rwx, others rwx:
      // values(i) is bit 8 − i of the octal mode
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (1 << (8 - i))) != 0) set.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, perm)
      }
    }
  }
}
