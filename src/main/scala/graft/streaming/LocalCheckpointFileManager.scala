package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.{CancellableFSDataOutputStream, RenameBasedFSDataOutputStream}

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
  *    false: Spark's manager would then silently skip an overwrite. Its
  *    raw layer sets permissions through `java.nio`
  *    ([[LocalCheckpointFileManager.NioPermissionRawFs]]), so a create no
  *    longer forks `chmod` for the file and its `.crc` sidecar.
  *  - Any other scheme: Spark's default choice. On HDFS, `FileSystem.rename`
  *    onto an existing file returns false, so the FileSystem path would
  *    silently skip an overwrite; FileContext is the correct path there.
  *
  * A `createAtomic` whose commit fails (a no-overwrite write that loses
  * to an existing file) deletes its temp file: Spark's stream rethrows
  * from `close` without cancelling, and `cancel()` after `close()` is a
  * no-op.
  *
  * Spark still wraps this manager in its checksum layer when
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled` is on.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocalPath(path.toUri, hadoopConf)) {
      val conf = new Configuration(hadoopConf)
      conf.setClass("fs.file.impl", classOf[LocalCheckpointFileManager.ForkFreeLocalFileSystem],
        classOf[FileSystem])
      // Hadoop resolves the class through the conf's loader, which may not
      // be the one that sees graft's classes
      conf.setClassLoader(getClass.getClassLoader)
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
    delegate match {
      case fm: FileSystemBasedCheckpointFileManager =>
        // Spark's temp-file name, kept here so a failed close can delete it
        val tmp = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID}.tmp")
        new LocalCheckpointFileManager.TempDeletingStream(
          new RenameBasedFSDataOutputStream(fm, p, tmp, overwriteIfPossible), fm, tmp)
      case other => other.createAtomic(p, overwriteIfPossible)
    }
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
  /** Hadoop's checksummed `LocalFileSystem` over [[NioPermissionRawFs]]. */
  final class ForkFreeLocalFileSystem extends LocalFileSystem(new NioPermissionRawFs)

  /** A `RawLocalFileSystem` whose `setPermission` sets the mode bits with
    * `java.nio` (`chmod(2)` in-process). Without the native Hadoop library
    * the parent forks `chmod` for it, and every create (the file and its
    * `.crc` sidecar) and every new directory calls it: about 12 forks per
    * `tick_stream` micro-batch. A sticky bit, which `PosixFilePermission`
    * cannot express, still goes through the parent.
    */
  final class NioPermissionRawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      // without a sticky bit, toString is the nine-letter form ("rw-r-----")
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  /** Delegates to `inner`, and deletes `tmp` when `inner.close()` fails:
    * the rename did not happen, and nothing else removes the temp file.
    */
  private final class TempDeletingStream(inner: CancellableFSDataOutputStream,
                                         fm: CheckpointFileManager, tmp: Path)
      extends CancellableFSDataOutputStream(inner) {
    override def close(): Unit =
      try inner.close()
      catch {
        case NonFatal(e) =>
          // the caller needs e itself: a FileAlreadyExistsException tells
          // the commit log that another writer won
          try fm.delete(tmp) catch { case NonFatal(d) => e.addSuppressed(d) }
          throw e
      }
    override def cancel(): Unit = inner.cancel()
  }

  /** The Spark setting that names the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** True when `uri` resolves to the local file system: a `file:` scheme,
    * or no scheme under a `file:` default file system.
    */
  def isLocalPath(uri: URI, conf: Configuration): Boolean =
    Option(uri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}
