package graft.streaming

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager that writes local checkpoints through Hadoop's
  * FileSystem API and everything else through Spark's default.
  *
  * Spark builds every offset log, commit log, HDFS-backed state store and
  * file-sink log through `spark.sql.streaming.checkpointFileManagerClass`.
  * Its default, `FileContextBasedCheckpointFileManager`, reaches
  * `RawLocalFileSystem` for `file:` paths; without the native Hadoop
  * library that forks `chmod` on every create and `readlink` on every
  * FileContext rename, which is a third of a 5k-tick micro-batch
  * (offset log, commit log and each state-store delta pay it).
  *
  *  - Local file system: Spark's `FileSystemBasedCheckpointFileManager`
  *    over Hadoop's own `LocalFileSystem`. Its rename is a POSIX
  *    `rename(2)`, which replaces the target atomically, so `createAtomic`
  *    keeps its overwrite and no-overwrite semantics. The file system is
  *    pinned because with Hive on the classpath `file:` resolves to Hive's
  *    `ProxyLocalFileSystem`, whose rename onto an existing file returns
  *    false: Spark's manager would then silently skip an overwrite.
  *  - Any other scheme: Spark's default choice. On HDFS, `FileSystem.rename`
  *    onto an existing file returns false, so the FileSystem path would
  *    silently skip an overwrite; FileContext is the correct path there.
  *
  * Spark still wraps this manager in its checksum layer when
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled` is on.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocalPath(path.toUri, hadoopConf)) {
      val conf = new Configuration(hadoopConf)
      conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
      // uncached, or a cached ProxyLocalFileSystem comes back
      conf.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, conf)
    } else {
      // Spark's own choice (FileContext, or FileSystem where no
      // AbstractFileSystem exists), read with this class unregistered
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** The Spark setting that names the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** True when `uri` resolves to the local file system: a `file:` scheme,
    * or no scheme under a `file:` default file system.
    */
  def isLocalPath(uri: URI, conf: Configuration): Boolean =
    Option(uri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}
