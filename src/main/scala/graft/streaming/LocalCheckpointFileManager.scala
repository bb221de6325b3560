package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager every graft stream runs with (set by
  * [[EventStreams.withStreamShuffle]]). On `file:` it is Spark's
  * `FileSystemBasedCheckpointFileManager`: Spark's default
  * `FileContextBasedCheckpointFileManager` renames through
  * `FileContext`, whose local rename resolves symlinks with a forked
  * `readlink` when Hadoop's native library is absent — several forks
  * per offset, commit, source/sink log and state-store delta file.
  * Both managers check `dst` and then rename, and both write and
  * verify a `.crc` per file, so local semantics are unchanged. Any
  * other scheme keeps Spark's default choice (on HDFS, FileContext's
  * atomic no-overwrite rename).
  *
  * The `file:` delegate writes through [[ForkFreeLocalFileSystem]]:
  * Hadoop's `LocalFileSystem` would fork a `chmod` for every temp file
  * and its `.crc` (about 11 per micro-batch). The modes it applies are
  * Hadoop's: the umask is applied before the permission is set.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    val conf = new Configuration(hadoopConf)
    if (scheme == "file") {
      // pinned to a LocalFileSystem subclass, uncached: the `file:`
      // FileSystem found on the classpath may be another jar's
      // (hive-exec's ProxyLocalFileSystem), whose rename refuses an
      // existing target — an overwriting commit (state-store delta
      // and snapshot files) would silently keep the old file
      ForkFreeLocalFileSystem.confs.foreach { case (k, v) => conf.set(k, v) }
      new FileSystemBasedCheckpointFileManager(path, conf)
    } else {
      conf.unset(LocalCheckpointFileManager.confKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = delegate.open(p)
  override def list(p: Path, filter: PathFilter) = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  val confKey = "spark.sql.streaming.checkpointFileManagerClass"
}
